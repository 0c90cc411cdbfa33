package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Iceberg-lite versioned parquet table: every commit writes NEW files
  * under `data/commit-N/` and publishes an immutable manifest listing the
  * table's COMPLETE file set at that version. Readers resolve a manifest,
  * never a directory listing, which buys the three properties a 100 TB
  * warehouse table needs:
  *
  *  - snapshot isolation: files are only ever added, so a reader planned
  *    against v1's manifest is untouched by any later commit;
  *  - time travel: `read(spark, dir, version = v)` reproduces any
  *    historical state bit-for-bit;
  *  - O(|files in snapshot|) planning: the manifest replaces the
  *    recursive directory listing that dominates job-submit latency on
  *    object stores (and makes "which files belong to the table" an
  *    atomic fact rather than an eventual-consistency race).
  *
  * An `append` commit's manifest = previous manifest + the new files; an
  * overwrite commit's manifest = the new files only (the logical DELETE /
  * compaction path — old files stay on disk for older-version readers
  * until a retention sweep, which is out of scope). Manifests are one
  * absolute path per line — no JSON parser needed on the read path.
  * Single-writer by design; a production system CAS-swaps the version
  * pointer. */
object ManifestTable {

  /** A commit lost the version CAS: either the version it targeted is no
    * longer next, or another writer won the no-replace manifest rename.
    * A dedicated type (not `IllegalArgumentException` + message matching)
    * so callers retrying or de-duplicating commits classify the failure
    * structurally — ADVICE r8. */
  final class CommitConflictException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

  /** The manifest namespace a commit or read targets: main's
    * `_manifests/`, or a branch's `_manifests/branch-<name>/`. The ref
    * decides where manifests live, the head version, and the data
    * directory a new version's files land under ([[nextCommit]]). */
  sealed trait Ref
  object Ref {
    case object Main extends Ref
    final case class Branch(name: String) extends Ref
    def of(branch: Option[String]): Ref = branch.fold[Ref](Main)(Branch(_))
  }

  /** Where a commit's manifest starts: the previous version's lines
    * (`Append`), nothing (`Empty`, an overwrite), or given lines carried
    * verbatim (`Lines`: RTAS, rollback, fast-forward, clone, and the
    * position-delete verbs, whose `P|` lines ride in here). Verbatim
    * lines keep their stats segments and bucket tags: an RTAS swap
    * re-opens none of the footers its stage commit already read. */
  sealed trait Base
  object Base {
    case object Append extends Base
    case object Empty extends Base
    final case class Lines(lines: Seq[String]) extends Base
    def of(append: Boolean): Base = if (append) Append else Empty
  }

  /** A data file entering the manifest. `extraStats` merge over its
    * footer stats: manifest-only planning metadata such as the
    * `_ptn_bucket_<col>` tag a bucketed writer knows for each file. */
  final case class DataFile(path: String,
                            extraStats: Map[String, (Double, Double)] = Map.empty)

  /** One commit in the Iceberg/Delta add/remove action model. The new
    * manifest is `base`, minus the data files in `replaced` (with their
    * position deletes reconciled), plus `eqDeletes` (key column spec →
    * equality-delete files, scoped to data committed before this
    * version), plus `added` with fresh footer stats. `sidecars` are
    * `v<N>.<kind>` files (bloom, ndv, hist, rw) written after the claim:
    * a lost claim leaves no orphan sidecar. */
  final case class CommitPlan(base: Base = Base.Append,
                              replaced: Set[String] = Set.empty,
                              added: Seq[DataFile] = Nil,
                              eqDeletes: Option[(String, Seq[String])] = None,
                              sidecars: Seq[(String, Seq[String])] = Nil)

  private def manifests(dir: String): Path = Paths.get(dir, "_manifests")

  /** Manifest version numbers present on disk, closing the directory
    * stream (Files.list holds an open handle until closed — every
    * commit/read calls this, so a leak here exhausts fds). */
  private def versionsOnDisk(md: Path): Seq[Int] = {
    val stream = Files.list(md)
    try stream.iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".list") =>
        s.stripPrefix("v").stripSuffix(".list").toInt }
      .toSeq
    finally stream.close()
  }

  /** Highest committed version, 0 if the table does not exist yet. */
  def currentVersion(dir: String): Int = {
    val md = manifests(dir)
    if (!Files.isDirectory(md)) 0
    else versionsOnDisk(md).foldLeft(0)(math.max)
  }

  private def manifestFiles(dir: String, v: Int, ref: Ref = Ref.Main): Seq[String] =
    linesIn(mdOf(dir, ref), v)

  private def linesIn(md: Path, v: Int): Seq[String] =
    Files.readAllLines(md.resolve(s"v$v.list")).asScala.toSeq

  /** The manifest directory of `ref`; a branch must exist. */
  private def mdOf(dir: String, ref: Ref): Path = ref match {
    case Ref.Main => manifests(dir)
    case Ref.Branch(name) =>
      val md = branchMd(dir, name)
      require(Files.isDirectory(md), s"no branch '$name' under $dir")
      md
  }

  /** Head version of `ref`: main's current version (0 for a new table),
    * or a branch's newest (its fork version until its first commit). */
  private def headVersion(dir: String, ref: Ref): Int = ref match {
    case Ref.Main => currentVersion(dir)
    case Ref.Branch(_) => versionsOnDisk(mdOf(dir, ref)).max
  }

  /** The data directory version `v` of `ref` writes under. A branch's
    * carries the branch nonce (`commit-<v>-<nonce>`): its bytes stay out
    * of main's commit directories, and the version still parses as the
    * entry sequence. */
  private def commitDir(dir: String, ref: Ref, v: Int): String = ref match {
    case Ref.Main => s"$dir/data/commit-$v"
    case Ref.Branch(name) => s"$dir/data/commit-$v-${branchNonce(name)}"
  }

  /** `ref`'s next version and the data directory its files must land
    * under — what a writer stages into before [[publish]]. */
  def nextCommit(dir: String, ref: Ref): (Int, String) = {
    val v = headVersion(dir, ref) + 1
    (v, commitDir(dir, ref, v))
  }

  /** Manifest line → (commit sequence, kind, data path, column stats).
    * Five line shapes, all newline-framed and `|`-separated — no JSON
    * parser on the read path:
    *
    *  - `<path>`                         data file, no stats (round-5
    *                                     manifests stay readable);
    *  - `F|<path>|c:min:max;c2:min:max`  data file WITH per-column
    *                                     min/max (file-skipping stats,
    *                                     round-7);
    *  - `F|<path>|<stats or ->|c:hex;…`  … plus per-column BLOOM words
    *                                     (point-lookup file skipping,
    *                                     round-8; hex = the filter's
    *                                     64-bit words, 16 hex chars
    *                                     each, `-` = no min/max stats);
    *  - `D|<keyCol>|<path>`              equality-delete file;
    *  - `P|<path>`                       position-delete file
    *                                     (`file_path`,`pos` rows).
    *
    * The sequence is parsed from the `commit-N` path segment every commit
    * writes under. */
  private final case class Entry(seq: Int, deleteKey: Option[String],
                                 posDelete: Boolean, path: String,
                                 stats: Map[String, (Double, Double)],
                                 blooms: Map[String, Array[Long]] = Map.empty) {
    def isData: Boolean = deleteKey.isEmpty && !posDelete
  }
  // Anchored to the `/data/commit-N/` segment the commit protocol writes
  // under, and taking the LAST match — a table rooted somewhere beneath a
  // directory that itself matches (`/lake/data/commit-7/mytable/…`) must
  // not inherit that ancestor's number, or delete sequencing and the
  // changes() append-only checks silently misorder. Optimistic writers
  // ([[appendOptimistic]]) publish under `commit-N-<writer id>` so
  // contending writers never share a directory; the optional hex suffix
  // carries no sequence meaning.
  private val SeqRe = raw"/data/commit-(\d+)(?:-[0-9a-f]{12})?/".r
  private def parseEntry(line: String): Entry = {
    val (del, pos, path, stats) =
      if (line.startsWith("D|")) {
        val parts = line.split('|')
        (Some(parts(1)), false, parts(2), Map.empty[String, (Double, Double)])
      } else if (line.startsWith("P|")) {
        // `P|path[|stats]` — stats (notably `__rows`) are optional for
        // backward compatibility with pre-r10 position-delete lines
        val parts = line.split('|')
        val st =
          if (parts.length <= 2 || parts(2) == "-") Map.empty[String, (Double, Double)]
          else parts(2).split(';').iterator.map { s =>
            val Array(n, lo, hi) = s.split(':')
            n -> (lo.toDouble, hi.toDouble)
          }.toMap
        (None, true, parts(1), st)
      } else if (line.startsWith("F|")) {
        val parts = line.split('|')
        val st =
          if (parts(2) == "-") Map.empty[String, (Double, Double)]
          else parts(2).split(';').iterator.map { s =>
            val Array(n, lo, hi) = s.split(':')
            n -> (lo.toDouble, hi.toDouble)
          }.toMap
        (None, false, parts(1), st)
      } else (None, false, line, Map.empty[String, (Double, Double)])
    val blooms: Map[String, Array[Long]] =
      if (!line.startsWith("F|")) Map.empty
      else {
        val parts = line.split('|')
        if (parts.length <= 3) Map.empty
        else parts(3).split(';').iterator.map { s =>
          val i = s.indexOf(':')
          s.substring(0, i) -> s.substring(i + 1).grouped(16)
            .map(java.lang.Long.parseUnsignedLong(_, 16)).toArray
        }.toMap
      }
    val seq = SeqRe.findAllMatchIn(path).toSeq.lastOption
      .map(_.group(1).toInt).getOrElse(0)
    Entry(seq, del, pos, path, stats, blooms)
  }
  private def pathOf(line: String): String = parseEntry(line).path

  /** A delete entry's key specification: one or more comma-separated
    * column names (composite row identifiers). */
  private[graft] def delKeyCols(keySpec: String): Seq[String] =
    keySpec.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** Per-column (min, max) of a parquet file, read from the FOOTER only —
    * O(file-count) metadata reads at commit time, never a data scan; this
    * is the planning metadata Iceberg keeps in its manifests. Covered:
    * top-level INT32/INT64/FLOAT/DOUBLE columns (incl. date days and
    * timestamp micros — both surface as their physical integers).
    * Skipped: decimals (physical stats are unscaled ints), INT96,
    * binary/boolean, nested paths. Long bounds are widened one ulp when
    * they exceed 2^53 so the Double encoding can only OVER-approximate a
    * file's range — pruning stays conservative by construction. */
  private[graft] def fileStats(path: String): Map[String, (Double, Double)] = {
    // Data files are immutable once written (the manifest IS the state),
    // but several commit verbs stat the same new file twice (a zero-row
    // filter, then the manifest line) and maintenance re-stats carried
    // files — memoize per [[FileId]] so every footer is parsed once per
    // content. The (length, mtime) part keeps a re-created scratch path
    // from serving stale stats.
    val key = FileId.of(path)
    statsCache.get(key).getOrElse {
      // only SUCCESSFUL footer reads enter the memo: a transient read
      // error must not pin stats-free manifest lines for the rest of the
      // JVM (pruning and countStar would silently degrade — ADVICE r16)
      computeFileStats(path) match {
        case Some(computed) => statsCache.put(key, computed); computed
        case None           => Map.empty
      }
    }
  }

  /** A file as the per-file memos identify it: (path, length, mtime).
    * Committed files are immutable and UUID-named; a file re-created at
    * the same path with other bytes gets a new identity, so a memo hit
    * is never stale. Keys [[fileStats]] and the merge-on-read delete
    * state memos alike. */
  private[graft] final case class FileId(path: String, length: Long, mtime: Long)

  private[graft] object FileId {
    def of(path: String): FileId = {
      val f = new java.io.File(path)
      FileId(path, f.length(), f.lastModified())
    }
  }

  /** Size-bounded LRU memo (access-order LinkedHashMap behind a lock).
    * Eviction is per-entry, oldest-accessed first — never a wholesale
    * clear, so a long-lived driver keeps its hot entries instead of
    * paying a full cold-start burst at the cap (ADVICE r16). `cap` bounds
    * the total WEIGHT (one per entry by default) and is read at every
    * put, so a bound tied to a setting follows it; an entry heavier than
    * the whole cap is served but never kept. */
  private[graft] final class LruMemo[K, V](cap: () => Long, weigh: V => Long) {
    def this(entries: Long) = this(() => entries, (_: V) => 1L)
    private val m = new java.util.LinkedHashMap[K, V](64, 0.75f, true)
    private var total = 0L
    private val inflight = new java.util.concurrent.ConcurrentHashMap[K, AnyRef]()
    def get(k: K): Option[V] = m.synchronized(Option(m.get(k)))
    def put(k: K, v: V): Unit = m.synchronized {
      val old = m.remove(k)
      if (old != null) total -= weigh(old)
      val c = cap()
      val w = weigh(v)
      if (w <= c) { m.put(k, v); total += w }
      val eldest = m.values().iterator()
      while (total > c) { total -= weigh(eldest.next()); eldest.remove() }
    }
    /** The memoized value, or `load` run ONCE for concurrent callers of
      * the same key (the others wait and read the memo). */
    def getOrLoad(k: K)(load: => V): V = get(k).getOrElse {
      val lock = inflight.computeIfAbsent(k, _ => new Object)
      try lock.synchronized {
        get(k).getOrElse { val v = load; put(k, v); v }
      } finally inflight.remove(k, lock): Unit
    }
  }

  private val statsCache =
    new LruMemo[FileId, Map[String, (Double, Double)]](65536)

  /** Pre-compute footer stats for many files CONCURRENTLY (they are
    * independent metadata reads); subsequent per-file [[fileStats]]
    * calls hit the memo. Commit-time stats for a 32-file commit drop
    * from 32 sequential footer opens to one parallel burst. */
  private def warmFileStats(paths: Iterable[String]): Unit = {
    val distinct = paths.toSeq.distinct
    if (distinct.sizeIs > 1)
      java.util.Arrays.stream(distinct.toArray)
        .parallel().forEach(p => fileStats(p): Unit)
  }

  /** The parquet files directly under `dir`, absolute and sorted. */
  private[graft] def parquetFiles(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted

  /** Write `df` under `dir` (mode overwrite: a crashed attempt's
    * leftovers are rewritten) and return the files it wrote. */
  private def stage(df: DataFrame, dir: String): Seq[String] = {
    df.write.mode("overwrite").parquet(dir)
    parquetFiles(dir)
  }

  /** `files` without the zero-row ones: a rewrite whose every row was
    * deleted, or a predicate matching nothing, writes empty files that
    * would only pin a scan split (or, as delete files, the merge-on-read
    * path) for nothing. */
  private[graft] def nonEmptyFiles(files: Seq[String]): Seq[String] = {
    warmFileStats(files)
    files.filterNot(f => fileStats(f).get("__rows").exists(_._1 == 0))
  }

  private[graft] def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(rmTree); f.delete(): Unit
  }

  /** One immutable ParquetReadOptions shared by every local footer read:
    * the no-options `ParquetFileReader.open(InputFile)` overload builds a
    * fresh options object per call, whose Hadoop `Configuration` loads
    * the XML default resources each time — pure driver overhead under
    * every commit's stats burst (r17 gap sampling). Built over a
    * defaults-free Configuration; footer decoding reads no site config. */
  private lazy val localReadOptions: org.apache.parquet.ParquetReadOptions =
    org.apache.parquet.ParquetReadOptions.builder(
      new org.apache.parquet.conf.HadoopParquetConfiguration(
        new org.apache.hadoop.conf.Configuration(false))).build()

  /** None when the footer could not be read (transient IO, non-parquet
    * bytes) — the caller degrades to a stats-free line WITHOUT caching
    * the failure. */
  private def computeFileStats(path: String): Option[Map[String, (Double, Double)]] =
    scala.util.Try {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import org.apache.parquet.column.statistics._
      import org.apache.parquet.schema.LogicalTypeAnnotation.DecimalLogicalTypeAnnotation
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      def widenLo(v: Long): Double =
        if (math.abs(v) <= (1L << 53)) v.toDouble else math.nextDown(v.toDouble)
      def widenHi(v: Long): Double =
        if (math.abs(v) <= (1L << 53)) v.toDouble else math.nextUp(v.toDouble)
      // local paths skip the Hadoop FileSystem layer entirely (3x
      // cheaper per footer: no FS cache lookups, no checksum stream)
      val rd =
        if (path.contains("://"))
          ParquetFileReader.open(HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(path),
            new org.apache.hadoop.conf.Configuration(false)))
        else
          ParquetFileReader.open(
            new org.apache.parquet.io.LocalInputFile(
              java.nio.file.Paths.get(path)), localReadOptions)
      try {
        val acc = scala.collection.mutable.Map.empty[String, (Double, Double)]
        // Footer row count rides the stats map as the reserved pseudo-column
        // `__rows` (lo = hi = count) — the planning metadata that makes
        // COUNT(*) a manifest-only query ([[countStar]]); exact for any
        // file below 2^53 rows, i.e. always.
        val nRows = rd.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        acc("__rows") = (nRows.toDouble, nRows.toDouble)
        for (b <- rd.getFooter.getBlocks.asScala; c <- b.getColumns.asScala
             if c.getPath.size == 1) {
          val pt = c.getPrimitiveType
          val ok = (pt.getPrimitiveTypeName match {
            case INT32 | INT64 | FLOAT | DOUBLE => true
            case _ => false
          }) && !pt.getLogicalTypeAnnotation.isInstanceOf[DecimalLogicalTypeAnnotation]
          val name = c.getPath.toDotString
          // a column name that collides with the line grammar gets no
          // stats; same for a user column named `__rows`, which would
          // otherwise merge into the reserved row-count entry and corrupt
          // countStar() (ADVICE r9) — it loses min/max pruning only,
          // never correctness (pruning is strictly best-effort)
          if (ok && name != "__rows" && !name.exists("|;:".contains(_))) {
            val range: Option[(Double, Double)] = c.getStatistics match {
              case s: IntStatistics if s.hasNonNullValue =>
                Some((s.getMin.toDouble, s.getMax.toDouble))
              case s: LongStatistics if s.hasNonNullValue =>
                Some((widenLo(s.getMin), widenHi(s.getMax)))
              case s: FloatStatistics if s.hasNonNullValue =>
                Some((s.getMin.toDouble, s.getMax.toDouble))
              case s: DoubleStatistics if s.hasNonNullValue =>
                Some((s.getMin, s.getMax))
              case _ => None
            }
            range.foreach { case (lo, hi) =>
              val merged = acc.get(name) match {
                case Some((l0, h0)) => (math.min(l0, lo), math.max(h0, hi))
                case None           => (lo, hi)
              }
              acc(name) = merged
            }
          }
        }
        acc.toMap
      } finally rd.close()
    }.toOption

  /** `c:min:max;…` — a manifest line's stats segment, `-` when empty. */
  private def statSeg(st: Map[String, (Double, Double)]): String =
    if (st.isEmpty) "-"
    else st.toSeq.sortBy(_._1)
      .map { case (n, (lo, hi)) => s"$n:$lo:$hi" }.mkString(";")

  /** A data file's manifest line: `F|path|stats` when the footer (or the
    * writer's extra stats) yields any, the bare legacy path otherwise. */
  private def dataLine(f: DataFile): String = {
    val st = fileStats(f.path) ++ f.extraStats
    if (st.isEmpty) f.path else "F|" + f.path + "|" + statSeg(st)
  }

  /** A position-delete file's line. Its footer stats ride along (`__rows`
    * above all): positions are exact-count deletions, so a pos-only
    * snapshot keeps zero-IO COUNT(*) — see [[countStar]]. */
  private def posDeleteLine(path: String): String =
    s"P|$path|${statSeg(fileStats(path))}"

  /** The one commit verb: land `plan` as EXACTLY version `v` of `ref`, or
    * fail without publishing anything. `v` must be the ref's next version
    * — a writer that planned against an older head gets
    * [[CommitConflictException]] here — and the link-CAS in
    * [[claimManifestIn]] is the atomic create: if a concurrent writer
    * claimed `v<v>.list` first, the claim throws and this commit's staged
    * files stay unreferenced (readers resolve manifests, never listings),
    * so the conflict is detected BEFORE any state becomes visible. Every
    * DSv2 writer (batch, streaming, delta, copy-on-write; main or a WAP
    * branch) and every RTAS commits through here. Returns `v`. */
  def publish(dir: String, ref: Ref, v: Int, plan: CommitPlan): Int = {
    val head = headVersion(dir, ref)
    if (v != head + 1)
      throw new CommitConflictException(
        s"publish: version $v is not next on $ref of $dir (head $head) — concurrent writer")
    land(dir, ref, v, plan)
  }

  /** [[publish]] without the head check, for verbs that derived `v` from
    * the head themselves a moment earlier (the claim still refuses a
    * taken version). Prior lines carry forward verbatim; new files enter
    * WITH footer stats — written once, at the only moment the file is
    * new. */
  private def land(dir: String, ref: Ref, v: Int, plan: CommitPlan): Int = {
    val md = mdOf(dir, ref)
    val base = plan.base match {
      case Base.Append => if (v > 1) linesIn(md, v - 1) else Seq.empty
      case Base.Empty => Seq.empty
      case Base.Lines(lines) => lines
    }
    val kept =
      if (plan.replaced.isEmpty) base
      else reconcilePosDeletes(base.filter { l =>
        val e = parseEntry(l)
        !(e.isData && plan.replaced.contains(e.path))
      }, plan.replaced, commitDir(dir, ref, v))
    val dels = plan.eqDeletes.toSeq.flatMap { case (keyCol, files) =>
      require(v > 1, s"publish: equality deletes with no committed data under $dir")
      val cols = delKeyCols(keyCol)
      require(cols.nonEmpty && cols.forall(c => !c.exists("|;:".contains(_))),
        s"publish: illegal delete key spec '$keyCol'")
      files.sorted.map(f => s"D|$keyCol|$f")
    }
    warmFileStats(plan.added.map(_.path))
    val adds = plan.added.sortBy(_.path).map(dataLine)
    claimManifestIn(md, v, kept ++ dels ++ adds)
    plan.sidecars.foreach { case (kind, lines) =>
      val tmp = md.resolve(s".v$v.$kind.tmp")
      Files.write(tmp, lines.asJava)
      Files.move(tmp, md.resolve(s"v$v.$kind"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }
    v
  }

  /** Stage `df` under `ref`'s next commit directory and land it with
    * `plan` as the next version. */
  private def commitDf(df: DataFrame, dir: String, ref: Ref, plan: CommitPlan): Int = {
    val (v, dataDir) = nextCommit(dir, ref)
    land(dir, ref, v, plan.copy(added = stage(df, dataDir).map(DataFile(_))))
  }

  /** The `dataChange=false` marker sidecar — see [[rewriteVersions]]. */
  private val RewriteMarker = Seq("rw" -> Seq("rewrite"))

  /** Commit `df` as the next version. Returns the new version number.
    * `sized = true` opts into [[SizedWriter.sizeEstimated]] file sizing
    * (callers that pin an explicit layout — `repartition(8)`,
    * `repartitionByRange` clustering — keep the default and own it). */
  def commit(df: DataFrame, dir: String, append: Boolean,
             sized: Boolean = false): Int =
    commitDf(if (sized) SizedWriter.sizeEstimated(df) else df, dir, Ref.Main,
      CommitPlan(Base.of(append)))

  /** Commit `df` at EXACTLY version `v` (or fail without publishing):
    * the idempotent-writer primitive. Staged data goes under the target
    * version's own directory with mode=overwrite, so a CRASHED previous
    * attempt's leftovers are simply rewritten, and the no-replace
    * manifest claim is the single atomic commit point. A concurrent or
    * replayed writer claiming the same `v` fails the CAS with its files
    * unreferenced — which is exactly what lets a streaming sink map
    * batchId → version deterministically and treat "version already
    * exists" as "this batch already committed" (exactly-once without a
    * separate batch ledger). */
  def commitAt(df: DataFrame, dir: String, v: Int, append: Boolean): Int =
    publish(dir, Ref.Main, v, CommitPlan(Base.of(append),
      added = stage(df, commitDir(dir, Ref.Main, v)).map(DataFile(_))))

  /** Atomically claim `v<v>.list` with `lines` — the ONE code path every
    * commit kind publishes through. Write-then-LINK: the manifest appears
    * atomically or not at all, and the create is a true compare-and-set.
    * POSIX rename(2) silently REPLACES an existing target (Files.move
    * without REPLACE_EXISTING only pre-checks existence — a TOCTOU window
    * under real contention), whereas link(2) atomically fails with
    * EEXIST, so exactly ONE of any number of contending writers claims
    * the version and every loser gets [[CommitConflictException]] with
    * its bytes unreferenced. The tmp name carries a per-writer nonce for
    * the same reason — a shared `.v<v>.tmp` would let contenders
    * interleave writes into one file. (On an object store this maps to a
    * conditional PUT / If-None-Match; on HDFS, to create-no-overwrite —
    * same single-arbiter contract.) */
  private def claimManifestIn(md: Path, v: Int, lines: Seq[String]): Unit = {
    Files.createDirectories(md)
    val tmp = md.resolve(
      s".v$v.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    Files.write(tmp, lines.asJava)
    try Files.createLink(md.resolve(s"v$v.list"), tmp): Unit
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        throw new CommitConflictException(
          s"lost the manifest CAS for v$v — another writer published it first", e)
    } finally Files.deleteIfExists(tmp)
    // durable publish instant (v<N>.ts sidecar): TIMESTAMP AS OF prefers
    // this over the manifest's mtime, so a copied/restored table resolves
    // the same historical answers (mtimes do not survive a copy). Written
    // AFTER the claim — a crash between leaves the mtime fallback, which
    // at that instant is the publish time anyway.
    try Files.write(md.resolve(s"v$v.ts"),
      Seq(System.currentTimeMillis().toString).asJava): Unit
    catch { case _: java.io.IOException => }
  }

  /** How many md5-derived bit positions a manifest bloom sets/probes per
    * key — fixed so writer and reader never disagree. */
  val BloomK = 4

  /** Driver-side twin of [[graft.operators.Sketches.bloomPositions]]:
    * first 24 bits of md5(i ":" value) mod m — byte-identical to the
    * Column formula the distributed build uses. */
  private def bloomPos(i: Int, value: String, m: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$i:$value".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val v = ((d(0) & 0xffL) << 16) | ((d(1) & 0xffL) << 8) | (d(2) & 0xffL)
    (v % m).toInt
  }

  /** MULTI-WRITER optimistic append: stage once, then CAS-retry until the
    * commit lands. Pure appends never semantically conflict with any
    * foreign commit — the rebased manifest is simply the new current
    * version's lines plus ours — so a lost CAS re-targets the next
    * version and retries (Iceberg's optimistic concurrency for
    * non-overlapping commits). Two disciplines make the retry safe:
    *
    *  - files live under `data/commit-<v>-<writer id>` — a per-writer
    *    directory, so contenders never clobber each other's staged bytes
    *    (sharing `commit-<v>` would let writer B sweep writer A's files
    *    between A's stage and A's publish); a retry is a metadata rename
    *    to the next version's name, the bytes are written once;
    *  - the no-replace manifest rename stays the single arbiter: losers
    *    observe [[CommitConflictException]] and never any torn state.
    *
    * Commits that DEPEND on the base snapshot (overwrite/compaction,
    * sequence-scoped deletes) must NOT blind-retry — a foreign commit
    * may have changed what they read; they keep the loud-abort contract
    * ([[publish]]/[[delete]]'s CAS failure), and the caller
    * re-reads and re-derives. Returns the committed version. */
  def appendOptimistic(df: DataFrame, dir: String, maxAttempts: Int = 10): Int = {
    val id = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    var cur = Paths.get(s"$dir/staging/opt-$id")
    stage(df, cur.toString): Unit
    var attempt = 0
    while (attempt < maxAttempts) {
      val v = currentVersion(dir) + 1
      val target = Paths.get(s"$dir/data/commit-$v-$id")
      Files.createDirectories(target.getParent)
      Files.move(cur, target)
      cur = target
      try return publish(dir, Ref.Main, v,
        CommitPlan(added = parquetFiles(target.toString).map(DataFile(_))))
      catch { case _: CommitConflictException => attempt += 1 }
    }
    throw new CommitConflictException(
      s"appendOptimistic: gave up after $maxAttempts attempts under contention on $dir")
  }

  /** Commit `df` WITH per-file Bloom filters for `bloomCols` — the
    * point-lookup complement to the min/max stats (q315): a key-sharded
    * or unsorted table has every file spanning the whole key range, so
    * min/max prunes NOTHING for `key = ?`; a per-file bloom prunes to
    * ~1 + fpp·(files−1). The build is ONE distributed read-back pass
    * (explode k positions → distinct → per-(file, col, word) SUM of
    * single-bit masks ≡ OR — the q103 dense-bitset trick), so commit
    * cost stays O(data scan). The words land in a per-commit SIDECAR
    * (`v<v>.bloom`, q338's NDV pattern — Iceberg keeps the same shape in
    * puffin files), NOT in manifest lines: manifest lines stay
    * O(path+stats) however many blooms the table accrues, append commits
    * never re-copy bloom bytes forward, and the driver holds only THIS
    * commit's words (files-in-commit × cols × bits/64 longs), never the
    * table's. Point reads load the sidecars of the snapshot's
    * contributing commits — O(commits) tiny reads, zero data IO.
    * `bits` sizes the filter; at 100 TB you size it to the file's
    * expected distinct keys (~10 bits/key for ~1% fpp). */
  def commitWithBloom(df: DataFrame, dir: String, append: Boolean,
                      bloomCols: Seq[String], bits: Int = 16384): Int = {
    require(bits % 64 == 0, "commitWithBloom: bits must be a multiple of 64")
    require(bloomCols.nonEmpty, "commitWithBloom: no bloom columns given")
    val (v, dataDir) = nextCommit(dir, Ref.Main)
    val newFiles = stage(df, dataDir)
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    val masks = typedLit(Array.tabulate(64)(1L << _).toSeq)
    val back = spark.read.parquet(dataDir)
    val words = bloomCols.map { c =>
      back.select(input_file_name().as("_f"), lit(c).as("_c"),
        explode(graft.operators.Sketches.bloomPositions(col(c), bits, BloomK)).as("_p"))
    }.reduce(_.unionByName(_))
      .distinct()
      .groupBy(col("_f"), col("_c"), shiftright(col("_p"), 6).cast("int").as("_w"))
      .agg(sum(element_at(masks, (col("_p") % 64).cast("int") + 1)).as("_m"))
      .collect()
    // one sidecar line per (file, column): `path|col:<hex words>`
    val lines = words
      .groupBy(r => (new java.net.URI(r.getString(0)).getPath, r.getString(1)))
      .toSeq.sortBy(_._1).map { case ((path, c), rs) =>
        val arr = new Array[Long](bits / 64)
        rs.foreach(r => arr(r.getInt(2)) = r.getLong(3))
        s"$path|$c:${arr.map(w => f"$w%016x").mkString}"
      }
    // the sidecar lands after the manifest claim: a conflict leaves no
    // orphan, and a reader racing the sidecar write scans conservatively
    land(dir, Ref.Main, v, CommitPlan(Base.of(append),
      added = newFiles.map(DataFile(_)), sidecars = Seq("bloom" -> lines)))
  }

  /** path → col → bloom words, merged from the `.bloom` sidecars of the
    * given commit sequences (absent sidecars contribute nothing — their
    * files scan conservatively). */
  private def bloomSidecars(dir: String,
                            seqs: Seq[Int]): Map[String, Map[String, Array[Long]]] = {
    seqs.flatMap { sq =>
      val p = manifests(dir).resolve(s"v$sq.bloom")
      if (!Files.exists(p)) Nil
      else Files.readAllLines(p).asScala.map { line =>
        val bar = line.lastIndexOf('|')
        val rest = line.substring(bar + 1)
        val colon = rest.indexOf(':')
        val hex = rest.substring(colon + 1)
        (line.substring(0, bar), rest.substring(0, colon),
          Array.tabulate(hex.length / 16)(i =>
            java.lang.Long.parseUnsignedLong(hex.substring(i * 16, i * 16 + 16), 16)))
      }
    }.groupBy(_._1).map { case (p, rows) =>
      p -> rows.map(r => r._2 -> r._3).toMap
    }
  }

  /** Point-lookup read: every row of the snapshot whose file's bloom for
    * `col` MAY contain `value` — a superset (no false negatives by
    * construction; files without a bloom for `col` scan conservatively).
    * The caller still applies the exact `col = value` filter. Planning is
    * O(|manifest|) bit probes — k word-index + mask ANDs per file. */
  def readPoint(spark: SparkSession, dir: String, col: String,
                value: String, version: Int = -1): DataFrame = {
    val v = if (version > 0) version else currentVersion(dir)
    require(v > 0, s"ManifestTable.readPoint: no committed version under $dir")
    val all = manifestFiles(dir, v).map(parseEntry)
    val side = bloomSidecars(dir, all.filter(_.isData).map(_.seq).distinct)
    val entries = all.filter(e => !e.isData ||
      bloomKeep(bloomFor(side, e, col), value))
    assemble(spark, entries, dir, withMeta = false)
  }

  /** The bloom words governing `col` for a data entry: the commit's
    * sidecar first, legacy inline manifest words as fallback (round-8
    * tables stay prunable). */
  private def bloomFor(side: Map[String, Map[String, Array[Long]]],
                       e: Entry, col: String): Option[Array[Long]] =
    side.get(e.path).flatMap(_.get(col)).orElse(e.blooms.get(col))

  /** (files kept, data files total) for a bloom point prune — exposed so
    * callers/tests ASSERT the skip happened (the q315 pruneInfo twin). */
  def pointPruneInfo(dir: String, col: String, value: String,
                     version: Int = -1): (Int, Int) = {
    val v = if (version > 0) version else currentVersion(dir)
    val datas = manifestFiles(dir, v).map(parseEntry).filter(_.isData)
    val side = bloomSidecars(dir, datas.map(_.seq).distinct)
    (datas.count(e => bloomKeep(bloomFor(side, e, col), value)), datas.size)
  }

  private def bloomKeep(words: Option[Array[Long]], value: String): Boolean =
    words match {
      case None => true
      case Some(ws) =>
        val m = ws.length * 64
        (0 until BloomK).forall { i =>
          val p = bloomPos(i, value, m)
          (ws(p >> 6) & (1L << (p & 63))) != 0L
        }
    }

  /** Equality-delete commit (merge-on-read): the next version's manifest
    * keeps every existing line and adds the delete-key files — NO data
    * file is rewritten, which is the only affordable delete shape when
    * 0.1% of keys leave a 100 TB table (GDPR erasure, late retractions).
    * Readers apply the delete as an anti join, and SEQUENCE-scoped: a
    * delete at commit v erases matching keys only from data committed
    * BEFORE v; rows re-appended after survive (Iceberg's equality-delete
    * sequencing). `compact` purges deletes physically — its overwrite
    * commit materializes the merged read. */
  def delete(keys: DataFrame, dir: String, keyCol: String,
             sized: Boolean = false): Int = {
    val (v, dataDir) = nextCommit(dir, Ref.Main)
    require(v > 1, s"ManifestTable.delete: no committed data under $dir")
    val distinctKeys = keys.select(keyCol).distinct()
    val delFiles =
      stage(if (sized) SizedWriter.sizeEstimated(distinctKeys) else distinctKeys, dataDir)
    land(dir, Ref.Main, v, CommitPlan(eqDeletes = Some(keyCol -> delFiles)))
  }

  /** MERGE INTO (merge-on-read): upsert every `updates` row by `keyCol`
    * in ONE commit pairing an equality-delete of the update keys with an
    * append of the update rows. The delete is sequence-scoped to data
    * BEFORE this commit, the appended rows carry this commit's sequence —
    * so matched target rows are replaced, the merge's own re-inserts
    * survive, and unmatched keys simply insert (deleting an absent key is
    * a read-time no-op, which is what makes the commit O(|updates|) with
    * ZERO target IO: no join, no data-file rewrite — the only affordable
    * upsert shape on a 100 TB table; [[graft.operators.Relational.upsert]]
    * by contrast rewrites the whole target). Readers pay one extra anti
    * join until [[compact]] materializes the merge and purges the delete
    * file. Time travel, snapshot isolation, and the change feed (a
    * delete+insert event pair per matched key, insert-only for new keys)
    * hold by construction of the commit protocol. Returns the committed
    * version. */
  def merge(updates: DataFrame, dir: String, keyCol: String): Int = {
    val (v, dataDir) = nextCommit(dir, Ref.Main)
    require(v > 1, s"ManifestTable.merge: no committed data under $dir")
    // deltas are the small-files hot spot (a daily keyed update is tiny
    // relative to the table, and its source frame often carries the
    // session's full partition count): size-estimate the layout — large
    // deltas pass through untouched (files >= partitions)
    val rows = stage(SizedWriter.sizeEstimated(updates), s"$dataDir/rows")
    val dels = stage(SizedWriter.sizeEstimated(updates.select(keyCol).distinct()),
      s"$dataDir/del")
    land(dir, Ref.Main, v, CommitPlan(added = rows.map(DataFile(_)),
      eqDeletes = Some(keyCol -> dels)))
  }

  /** Read a snapshot; `version = -1` (default) reads the latest. Replays
    * the manifest in commit order: data commits union in, equality-delete
    * commits anti-join OUT of everything earlier (sequence-scoped), and
    * position-delete commits anti-join on exact (file, row-position) at
    * the end — so the plan is data-file scans plus one anti join per
    * surviving delete commit (compaction collapses the chain). A
    * delete-free manifest takes the plain multi-path scan. */
  def read(spark: SparkSession, dir: String, version: Int = -1,
           tableSchema: Option[org.apache.spark.sql.types.StructType] = None,
           ref: Ref = Ref.Main): DataFrame = {
    val v = if (version > 0) version else headVersion(dir, ref)
    require(v > 0, s"ManifestTable.read: no committed version under $dir")
    assemble(spark, manifestFiles(dir, v, ref).map(parseEntry), dir,
      withMeta = false, tableSchema = tableSchema)
  }

  /** Stats-pruned read: every row of the snapshot whose file MAY contain
    * `col` in [lo, hi], per the manifest's per-file min/max — a SUPERSET
    * of the matching rows (files without stats for `col` are scanned
    * conservatively); the caller still applies the exact row filter.
    * The point is what is NOT read: at 100 TB a time-ranged query over a
    * date-clustered table opens only the files whose range intersects —
    * planning cost O(|manifest|) string compares, zero data-file footers,
    * zero directory listings. Delete files are never pruned (a delete
    * against a pruned-out file anti-joins nothing). */
  def readWhere(spark: SparkSession, dir: String, col: String,
                lo: Double, hi: Double, version: Int = -1): DataFrame = {
    val v = if (version > 0) version else currentVersion(dir)
    require(v > 0, s"ManifestTable.readWhere: no committed version under $dir")
    val entries = manifestFiles(dir, v).map(parseEntry)
      .filter(e => !e.isData || overlaps(e.stats, Map(col -> (lo, hi))))
    assemble(spark, entries, dir, withMeta = false)
  }

  /** (files kept, data files total) for a stats prune — the planning-time
    * skip ratio, exposed so callers/tests can ASSERT the skip happened
    * rather than trust it. */
  def pruneInfo(dir: String, col: String, lo: Double, hi: Double,
                version: Int = -1): (Int, Int) = {
    val v = if (version > 0) version else currentVersion(dir)
    val datas = manifestFiles(dir, v).map(parseEntry).filter(_.isData)
    (datas.count(e => overlaps(e.stats, Map(col -> (lo, hi)))), datas.size)
  }

  /** Metadata-only COUNT(*): the snapshot's row count summed from the
    * `__rows` footer counts the commit protocol stores in every manifest
    * line — zero data files opened, zero footers re-read, O(|manifest|)
    * planning work. On a 100 TB table this is the difference between an
    * instant answer and a full scan; it is exactly Iceberg's
    * count-from-manifests / Spark's DSv2 aggregate-pushdown contract.
    * Honestly partial: returns None (caller falls back to a scan) when the
    * visible snapshot carries ANY delete entry (an equality delete's match
    * count is unknowable without data IO) or any pre-`__rows` legacy line.
    * Compaction purges deletes physically, so a compacted table answers
    * from metadata again — the maintenance loop restores O(1) counts. */
  def countStar(dir: String, version: Int = -1): Option[Long] = {
    val v = if (version > 0) version else currentVersion(dir)
    require(v > 0, s"ManifestTable.countStar: no committed version under $dir")
    val entries = manifestFiles(dir, v).map(parseEntry)
    // equality deletes stay an honest refusal (their match count is
    // unknowable without IO); POSITION deletes are exact-count erasures
    // of live rows by construction (`deleteWhere` resolves positions on
    // the already-filtered snapshot, so no position is ever deleted
    // twice) — the snapshot count is Σ data __rows − Σ pos-delete __rows,
    // still zero IO (r10 session 3; pre-r10 P| lines carry no count and
    // fall back to the scan)
    if (entries.exists(_.deleteKey.isDefined)) None
    else {
      val counts = entries.filter(_.isData).map(_.stats.get("__rows"))
      val posCounts = entries.filter(_.posDelete).map(_.stats.get("__rows"))
      if (counts.exists(_.isEmpty) || posCounts.exists(_.isEmpty)) None
      else Some(counts.flatten.map(_._1.toLong).sum -
        posCounts.flatten.map(_._1.toLong).sum)
    }
  }

  /** Metadata-only MIN/MAX of `col`: folded from the per-file footer
    * min/max already in the manifest lines — same zero-IO contract as
    * [[countStar]]. Footer stats are null-skipping exact minima/maxima for
    * INT32/INT64/FLOAT/DOUBLE, so the fold is exact wherever every data
    * file carries a stat for `col` (long bounds beyond 2^53 are widened at
    * commit time and would be conservative, not wrong). None when any
    * visible file lacks the stat (e.g. an all-null file) or any delete
    * entry is visible (the deleted rows' contribution is unknowable
    * without a scan). */
  def statsMinMax(dir: String, col: String,
                  version: Int = -1): Option[(Double, Double)] = {
    val v = if (version > 0) version else currentVersion(dir)
    require(v > 0, s"ManifestTable.statsMinMax: no committed version under $dir")
    val entries = manifestFiles(dir, v).map(parseEntry)
    if (entries.exists(e => !e.isData)) None
    else {
      val ranges = entries.map(_.stats.get(col))
      if (ranges.isEmpty || ranges.exists(_.isEmpty)) None
      else Some((ranges.flatten.map(_._1).min, ranges.flatten.map(_._2).max))
    }
  }

  /** (version, publish wall-clock millis) for every version on disk —
    * the publish instant IS the manifest file's mtime, set atomically by
    * the link(2) claim, so TIMESTAMP AS OF resolution needs no extra
    * metadata (the Delta convention: commit-file modification time). */
  private[graft] def versionTimestamps(dir: String): Seq[(Int, Long)] = {
    val md = manifests(dir)
    if (!Files.isDirectory(md)) Seq.empty
    else versionsOnDisk(md).map { v =>
      val ts = md.resolve(s"v$v.ts")
      val millis =
        if (Files.exists(ts))
          try Files.readAllLines(ts).get(0).trim.toLong
          catch { case _: Exception =>
            Files.getLastModifiedTime(md.resolve(s"v$v.list")).toMillis }
        else Files.getLastModifiedTime(md.resolve(s"v$v.list")).toMillis
      v -> millis
    }
  }

  /** The SQL face's full view of one manifest entry — what
    * [[graft.sources.v2.GraftScanBuilder]] needs to assemble a
    * merge-on-read scan: the commit sequence (equality deletes scope to
    * strictly-earlier data), the delete key column if the entry IS a
    * delete, and the per-column stats for file pruning. */
  private[graft] final case class SqlEntry(seq: Int, deleteKey: Option[String],
      posDelete: Boolean, path: String, stats: Map[String, (Double, Double)]) {
    def isData: Boolean = deleteKey.isEmpty && !posDelete
  }
  private[graft] def sqlEntriesAt(dir: String, v: Int,
                                  ref: Ref = Ref.Main): Seq[SqlEntry] =
    manifestFiles(dir, v, ref).map(parseEntry)
      .map(e => SqlEntry(e.seq, e.deleteKey, e.posDelete, e.path, e.stats))

  /** Reconcile prior POSITION-DELETE entries with a copy-on-write
    * replacement set. The row-level scan that produced the replacement
    * files read the MERGE-ON-READ view, so every position delete
    * targeting a replaced file is already MATERIALIZED in the rewritten
    * content — carrying its `P|` line forward would erase the same rows
    * twice: [[countStar]] subtracts the delete's `__rows` from a data sum
    * that no longer contains them (silent wrong COUNT(*)), and the table
    * stays pinned on the merge-on-read path forever (ADVICE r10, high).
    * Per delete file: every referenced data file replaced → drop the
    * line; none replaced → carry verbatim; mixed → rewrite the delete
    * file keeping only positions that still reference SURVIVING files
    * (their physical ordinals are untouched by the rewrite — position
    * deletes pin rows in files the CoW never opened). Cost is TWO Spark
    * jobs regardless of how many delete files the snapshot carries
    * (ADVICE r11: the per-file sequential version serialized hundreds of
    * tiny driver-coordinated jobs inside the commit's critical section at
    * a 100 TB delete cadence): one metadata-scale job collects every
    * (delete file, referenced data file) pair across ALL `P|` paths via
    * `_metadata.file_path`, one batch job rewrites every SPANNING delete
    * file — merged into a single surviving delete file, which is safe
    * because position deletes carry no sequence scoping (the MoR reader
    * anti-joins one global (file_path, pos) set) and is compaction for
    * free. */
  private def reconcilePosDeletes(keep: Seq[String], replaced: Set[String],
                                  commitDir: String): Seq[String] = {
    if (replaced.isEmpty || !keep.exists(_.startsWith("P|"))) return keep
    val spark = org.apache.spark.sql.SparkSession.active
    import org.apache.spark.sql.functions.col
    def norm(p: String): String =
      if (p.startsWith("file:")) java.net.URI.create(p).getPath else p
    val replacedNorm = replaced.map(norm)
    val posEntries = keep.map(parseEntry).filter(_.posDelete)
    // job 1: every (delete file, referenced data file) distinct pair in
    // one pass — |pairs| ≤ |delete files| × |data files in their scope|,
    // metadata scale (raw ref strings as stored, the URI form; membership
    // tests normalize, filters use the raw strings)
    val refPairs = readParquet(spark, posEntries.map(_.path), merge = false)
      .select(col("_metadata.file_path").as("del"), col("file_path"))
      .distinct().collect()
      .map(r => (norm(r.getString(0)), r.getString(1)))
    val refsByDel: Map[String, Array[String]] =
      refPairs.groupBy(_._1).map { case (d, ps) => d -> ps.map(_._2) }
    def isDead(raw: String): Boolean = replacedNorm.contains(norm(raw))
    // classify: all-dead (or ref-less) → drop; all-live → carry verbatim;
    // spanning → batch-rewrite below
    val spanning = posEntries.filter { e =>
      val refs = refsByDel.getOrElse(norm(e.path), Array.empty)
      refs.exists(isDead) && refs.exists(!isDead(_))
    }.map(_.path).toSet
    val kept = keep.flatMap { l =>
      val e = parseEntry(l)
      if (!e.posDelete) Some(l)
      else {
        val refs = refsByDel.getOrElse(norm(e.path), Array.empty)
        if (refs.nonEmpty && !refs.exists(isDead)) Some(l) else None
      }
    }
    val rewritten =
      if (spanning.isEmpty) Seq.empty
      else {
        // job 2: one rewrite over every spanning file — deadness depends
        // only on the replaced set, so one global anti join serves them
        // all. A broadcast ANTI JOIN, not an isin literal: a CoW touch
        // set has no size bound (an unselective UPDATE replaces
        // thousands of files), and a literal list that size bloats the
        // plan string and the codegen'd predicate — the dead-path FRAME
        // stays one broadcast of file-path strings at any touch-set size
        val deadRaw = refPairs.map(_._2).distinct.filter(isDead)
        import spark.implicits._
        val deadDf = org.apache.spark.sql.functions.broadcast(
          deadRaw.toIndexedSeq.toDF("file_path"))
        stage(spark.read.parquet(spanning.toSeq.sorted: _*)
            .join(deadDf, Seq("file_path"), "left_anti").coalesce(1),
          s"$commitDir/posrw-${java.util.UUID.randomUUID().toString.take(8)}")
          .map(posDeleteLine)
      }
    kept ++ rewritten
  }

  private val MetaCols = Seq("_graft_file", "_graft_pos")

  /** Strip reserved hidden-partition columns — they are commit-time
    * planning metadata (transform values), never user data. */
  private def dropHidden(df: DataFrame): DataFrame = {
    val hidden = df.columns.filter(_.startsWith("_ptn_"))
    if (hidden.isEmpty) df else df.drop(hidden.toIndexedSeq: _*)
  }

  /** Assembled-snapshot PLAN memo (guide §5: driver work). Every
    * `assemble` of the same immutable entry set re-listed each data file
    * (a DISTRIBUTED listing job once a scan spans ≥ the parallel-
    * discovery threshold of paths) and re-analyzed the same union/anti-
    * join tree; lifecycle faces re-read one snapshot dozens of times per
    * run. The returned DataFrame is a PLAN, not a result — every action
    * on it still computes from the parquet inputs. The key fingerprints
    * the session, the exact entry sequence (seq/kind/path), every file's
    * (length, mtime), and the declared schema — any commit, rewrite, or
    * scratch-path re-creation changes the fingerprint (part-file names
    * carry per-write UUIDs), so a stale plan cannot be served. */
  private val planCache = new LruMemo[(SparkSession, String), DataFrame](512)

  private def assemble(spark: SparkSession, entries: Seq[Entry], dir: String,
                       withMeta: Boolean,
                       tableSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val sb = new StringBuilder(entries.size * 96)
    sb.append(dir).append('\u0001').append(withMeta).append('\u0001')
      .append(tableSchema.map(_.json).getOrElse("-")).append('\u0001')
    entries.foreach { e =>
      val f = new java.io.File(e.path)
      sb.append(e.seq).append('|').append(e.deleteKey.getOrElse("-"))
        .append('|').append(e.posDelete).append('|').append(e.path)
        .append('|').append(f.length()).append('|').append(f.lastModified())
        .append('\n')
    }
    val key = (spark, sb.result())
    planCache.get(key).getOrElse {
      val df = assembleBuild(spark, entries, withMeta, tableSchema)
      planCache.put(key, df)
      df
    }
  }

  private def assembleBuild(spark: SparkSession, entries: Seq[Entry],
                            withMeta: Boolean,
                            tableSchema: Option[org.apache.spark.sql.types.StructType])
      : DataFrame = {
    import org.apache.spark.sql.functions.col
    val needMeta = withMeta || entries.exists(_.posDelete)
    // with a declared TABLE schema (the catalog's physical view), every
    // file reads against it so ALTER-added columns fill their
    // EXISTS_DEFAULT per file — the one correct mechanism (see
    // overwriteWhere); without it, the raw mergeSchema library view
    def base(paths: Seq[String]): DataFrame = tableSchema match {
      case Some(sch) => spark.read.schema(sch).parquet(paths: _*)
      case None => readParquet(spark, paths, merge = true)
    }
    // a snapshot with NO data files (empty table, or every data file
    // deleted away leaving only delete entries) is an EMPTY frame:
    // typed when the caller supplied the table schema; schema-less
    // otherwise (zero paths cannot infer one — the library contract's
    // honest limit, and spark.read.parquet() would throw)
    def emptyFrame(): DataFrame = tableSchema match {
      case Some(sch) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
      case None => spark.emptyDataFrame
    }
    if (!entries.exists(_.isData)) return emptyFrame()
    if (!needMeta && entries.forall(_.isData))
      return dropHidden(base(entries.map(_.path)))
    // _metadata is only addressable at the scan, so (file, pos) are
    // materialized as ordinary columns immediately and dropped at the end.
    // mergeSchema within a scan + allowMissingColumns across commits =
    // SCHEMA EVOLUTION: a commit may add columns, and older files read
    // them as NULL — no rewrite of history (the Iceberg add-column
    // contract; drops/renames are out of scope for the line format).
    def scan(paths: Seq[String]): DataFrame = {
      val d = base(paths)
      if (needMeta)
        d.withColumn(MetaCols(0), col("_metadata.file_path"))
          .withColumn(MetaCols(1), col("_metadata.row_index"))
      else d
    }
    var df: DataFrame = null
    entries.groupBy(_.seq).toSeq.sortBy(_._1).foreach { case (_, es) =>
      val (dels, rest) = es.partition(_.deleteKey.isDefined)
      val datas = rest.filter(_.isData)
      // equality deletes are sequence-scoped to STRICTLY EARLIER data
      // (Iceberg: a delete applies to seq < its own), so they anti-join
      // BEFORE this commit's own files union in — a MERGE commit's
      // delete+append pair then replaces matched keys without erasing
      // its own re-inserted rows
      dels.groupBy(_.deleteKey.get).foreach { case (keySpec, ds) =>
        // a delete whose earlier data was entirely pruned away has
        // nothing to erase — skip instead of failing the pruned read.
        // keySpec is one or more comma-separated columns (composite row
        // identifiers, e.g. `l_orderkey,l_linenumber`); the anti join is
        // null-rejecting per SQL semantics — a NULL in any key column
        // keeps the row.
        if (df != null) {
          val cols = delKeyCols(keySpec)
          val keys = readParquet(spark, ds.map(_.path), merge = false)
            .select(cols.zipWithIndex.map { case (c, i) =>
              col(c).as(s"_del_k$i") }: _*)
          val cond = cols.zipWithIndex
            .map { case (c, i) => df(c) === keys(s"_del_k$i") }
            .reduce(_ && _)
          df = df.join(keys, cond, "left_anti")
        }
      }
      if (datas.nonEmpty) {
        val d = scan(datas.map(_.path))
        df = if (df == null) d
        else df.unionByName(d, allowMissingColumns = true)
      }
    }
    val posFiles = entries.filter(_.posDelete).map(_.path)
    if (posFiles.nonEmpty && df != null) {
      val dels = readParquet(spark, posFiles, merge = false)
      df = df.join(dels,
        df(MetaCols(0)) === dels("file_path") && df(MetaCols(1)) === dels("pos"),
        "left_anti")
    }
    if (df != null && !withMeta && needMeta) df = df.drop(MetaCols: _*)
    if (df != null) dropHidden(df) else emptyFrame()
  }

  /** Row-level DELETE WHERE via POSITION deletes — the second Iceberg
    * delete shape, complementing [[delete]] (equality): instead of a key
    * column, the delete file records exact (file_path, row position)
    * pairs, resolved by scanning the CURRENT snapshot once with parquet
    * row indexes attached. No data file is rewritten; readers anti-join
    * on (file, pos). Position deletes pin physical rows, so rows
    * APPENDED after the delete always survive — no sequence bookkeeping
    * needed — and an arbitrary predicate (no key required) can be erased
    * from a 100 TB table at the cost of one filtered scan plus a
    * delete-file write. Returns the committed version. */
  def deleteWhere(spark: SparkSession, dir: String,
                  predicate: org.apache.spark.sql.Column): Int = {
    import org.apache.spark.sql.functions.col
    val (v, dataDir) = nextCommit(dir, Ref.Main)
    require(v > 1, s"ManifestTable.deleteWhere: no committed data under $dir")
    val base = manifestFiles(dir, v - 1)
    val snapEntries = base.map(parseEntry)
    // a data-less snapshot has nothing to delete — a NO-OP, not a crash
    // (the predicate could not even resolve against an empty frame)
    if (!snapEntries.exists(_.isData)) return v - 1
    val snap = assemble(spark, snapEntries, dir, withMeta = true)
    val hits = snap.filter(predicate)
      .select(col(MetaCols(0)).as("file_path"), col(MetaCols(1)).as("pos"))
    val delFiles = nonEmptyFiles(stage(hits, dataDir))
    // no matches at all → a NO-OP, not an empty commit (the snapshot is
    // bit-identical; versioning it would only churn retention) — and the
    // zero-row parquet (+ _SUCCESS/.crc) already written under
    // data/commit-$v must not linger: the directory belongs to a FUTURE
    // commit, and directory-listing tooling would misread the orphans
    if (delFiles.isEmpty) {
      rmTree(new java.io.File(dataDir))
      return v - 1
    }
    land(dir, Ref.Main, v, CommitPlan(Base.Lines(base ++ delFiles.map(posDeleteLine))))
  }

  /** Maintenance verb: merge the head snapshot's POSITION-delete files
    * into ONE (r12) — zero data-file IO, one commit. A 100 TB table on a
    * steady `deleteWhere` cadence accumulates one `P|` file per delete
    * per scanned data file, and every merge-on-read scan thereafter pays
    * O(|delete files|) opens before its first data byte; this folds the
    * whole set back to a single file the way [[reconcilePosDeletes]]
    * already merges spanning files during CoW — safe for the same
    * reason (position deletes carry no sequence scoping: the reader
    * anti-joins one global (file_path, pos) set). EQUALITY delete files
    * are deliberately untouched — they scope to strictly-earlier
    * sequences, so merging across commits would change which data files
    * they apply to ([[compact]] is their maintenance verb). Duplicate
    * positions are preserved verbatim (the library never writes them;
    * preserving keeps `__rows` exact-count semantics bit-stable).
    * Returns (delete files before, after); ≤ 1 before → NO-OP without a
    * commit. */
  def rewriteDeletes(spark: SparkSession, dir: String): (Int, Int) = {
    val cur = currentVersion(dir)
    require(cur > 0, s"ManifestTable.rewriteDeletes: no committed version under $dir")
    val lines = manifestFiles(dir, cur)
    val pos = lines.map(parseEntry).filter(_.posDelete)
    if (pos.size <= 1) return (pos.size, pos.size)
    val v = cur + 1
    // an all-empty delete set merges to zero rows → drop entirely (an
    // empty delete file masks nothing but pins the MoR path)
    val merged = nonEmptyFiles(stage(spark.read.parquet(pos.map(_.path): _*).coalesce(1),
      s"${commitDir(dir, Ref.Main, v)}/posmerge-${java.util.UUID.randomUUID().toString.take(8)}"))
    // dataChange=false: the merged delete set masks the exact same rows,
    // so the snapshot is bit-identical to v-1 — without the rewrite
    // marker, every change feed spanning this commit would refuse the
    // range ("removed files") and one maintenance CALL would break all
    // incremental consumers, syncClone included (ADVICE r12 medium)
    land(dir, Ref.Main, v, CommitPlan(
      Base.Lines(lines.filterNot(parseEntry(_).posDelete) ++ merged.map(posDeleteLine)),
      sidecars = RewriteMarker))
    (pos.size, merged.size)
  }

  /** Conjunct → (column, lo, hi) when it is a simple comparison between a
    * column and a literal on the same number line as the stored footer
    * stats (ints/longs/floats/doubles; date days; timestamp micros).
    * Shared by the SQL catalog's scan pruning and [[updateWhere]]'s
    * touch-set derivation; anything unrecognized contributes no
    * constraint, so consumers stay conservative by construction. */
  private[sources] def intervalOf(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[(String, Double, Double)] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    def num(l: Literal): Option[Double] = l.dataType match {
      case _: IntegerType | _: LongType | _: ShortType | _: ByteType |
           _: FloatType | _: DoubleType | _: DateType | _: TimestampType |
           _: TimestampNTZType =>
        Option(l.value).map {
          case n: java.lang.Number => n.doubleValue()
          case other => other.toString.toDouble
        }
      case _ => None
    }
    def attr(x: Expression): Option[String] = x match {
      case a: Attribute => Some(a.name)
      case _ => None // a cast moves the number line — no constraint
    }
    e match {
      case GreaterThanOrEqual(a, l: Literal) =>
        for (c <- attr(a); v <- num(l)) yield (c, v, Double.PositiveInfinity)
      case GreaterThan(a, l: Literal) =>
        for (c <- attr(a); v <- num(l)) yield (c, v, Double.PositiveInfinity)
      case LessThanOrEqual(a, l: Literal) =>
        for (c <- attr(a); v <- num(l)) yield (c, Double.NegativeInfinity, v)
      case LessThan(a, l: Literal) =>
        for (c <- attr(a); v <- num(l)) yield (c, Double.NegativeInfinity, v)
      case EqualTo(a, l: Literal) =>
        for (c <- attr(a); v <- num(l)) yield (c, v, v)
      case EqualTo(l: Literal, a) =>
        for (c <- attr(a); v <- num(l)) yield (c, v, v)
      case GreaterThanOrEqual(l: Literal, a) =>
        for (c <- attr(a); v <- num(l)) yield (c, Double.NegativeInfinity, v)
      case GreaterThan(l: Literal, a) =>
        for (c <- attr(a); v <- num(l)) yield (c, Double.NegativeInfinity, v)
      case LessThanOrEqual(l: Literal, a) =>
        for (c <- attr(a); v <- num(l)) yield (c, v, Double.PositiveInfinity)
      case LessThan(l: Literal, a) =>
        for (c <- attr(a); v <- num(l)) yield (c, v, Double.PositiveInfinity)
      // `<=>` with a non-null literal constrains exactly like `=`; a NULL
      // literal yields no numeric bound (num() returns None) and the
      // conjunct stays residual-only
      case EqualNullSafe(a, l: Literal) =>
        for (c <- attr(a); v <- num(l)) yield (c, v, v)
      case EqualNullSafe(l: Literal, a) =>
        for (c <- attr(a); v <- num(l)) yield (c, v, v)
      // IN-list → the [min, max] HULL of its values: conservative (a file
      // between two listed values survives pruning and the residual
      // filter drops its rows), which is exactly the superset contract —
      // and for CoW touch-sets a wider interval only rewrites more, never
      // loses a matching row. Point lookups (`k IN (x)`) stay exact.
      case In(a, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        for {
          c <- attr(a)
          nums <- {
            val ns = vs.map(v => num(v.asInstanceOf[Literal]))
            if (ns.forall(_.isDefined)) Some(ns.flatten) else None
          }
        } yield (c, nums.min, nums.max)
      // the optimizer rewrites long IN-lists (> spark.sql.optimizer
      // .inSetConversionThreshold) to InSet over raw values
      case ins: InSet if ins.hset.nonEmpty =>
        for {
          c <- attr(ins.child)
          nums <- {
            val ok = (ins.child.dataType match {
              case _: IntegerType | _: LongType | _: ShortType | _: ByteType |
                   _: FloatType | _: DoubleType | _: DateType |
                   _: TimestampType | _: TimestampNTZType => true
              case _ => false
            }) && ins.hset.forall(_.isInstanceOf[java.lang.Number])
            if (ok) Some(ins.hset.toSeq.map(_.asInstanceOf[java.lang.Number].doubleValue()))
            else None
          }
        } yield (c, nums.min, nums.max)
      case _ => None
    }
  }

  private[sources] def splitConjuncts(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(a, b) =>
      splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  /** `col = 'literal'` on a STRING column — the shape [[intervalOf]]
    * cannot express on the number line, but a declared bucket transform
    * CAN prune on: the bucket of the literal is computable driver-side
    * (r10: previously string point lookups stayed a library-only read). */
  private[sources] def stringEqOf(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[(String, String)] = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Literal}
    import org.apache.spark.sql.types.StringType
    e match {
      case EqualTo(a: Attribute, l: Literal) if l.dataType == StringType =>
        Option(l.value).map(v => (a.name, v.toString))
      case EqualTo(l: Literal, a: Attribute) if l.dataType == StringType =>
        Option(l.value).map(v => (a.name, v.toString))
      case _ => None
    }
  }

  /** Per-column bounds implied by a Column predicate — intersection of
    * every recognized conjunct's interval, walked over the Column-DSL
    * node tree by [[org.apache.spark.sql.graftbridge.ColumnBridge]]. A
    * row satisfying the predicate satisfies every bound, so a file whose
    * stats miss ANY bound holds no matching row. */
  private[sources] def predicateBounds(predicate: org.apache.spark.sql.Column)
      : Map[String, (Double, Double)] =
    org.apache.spark.sql.graftbridge.ColumnBridge.predicateIntervals(predicate)
      .groupBy(_._1).map { case (c, ivs) =>
        c -> ((ivs.map(_._2).max, ivs.map(_._3).min)) }

  /** Whether a file's stats may hold a row inside every bound (a column
    * without stats never cuts). */
  private def overlaps(stats: Map[String, (Double, Double)],
                       bounds: Map[String, (Double, Double)]): Boolean =
    bounds.forall { case (c, (lo, hi)) =>
      stats.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi } }

  /** The data files of `lines` a predicate-scoped rewrite must open:
    * those whose stats overlap `bounds`. Every other line carries
    * forward verbatim. */
  private def touchSet(lines: Seq[String],
                       bounds: Map[String, (Double, Double)]): Seq[String] =
    lines.map(parseEntry).filter(e => e.isData && overlaps(e.stats, bounds)).map(_.path)

  /** The copy-on-write rewrite verbs refuse tables carrying delete
    * entries: rewriting a file shifts row positions out from under
    * position deletes and re-sequences rows past equality deletes —
    * compact first (which purges deletes physically). */
  private def requireNoDeletes(verb: String, dir: String, lines: Seq[String]): Unit =
    require(lines.map(parseEntry).forall(_.isData),
      s"$verb: $dir carries row-level delete entries — a rewrite " +
        "would shift positions/sequences under them; compact first")

  /** The rewrite read of touched files. With a declared TABLE schema
    * (PHYSICAL names, metadata intact) the files read AGAINST it, so
    * ALTER-added columns missing from a PRE-ALTER file read as their
    * EXISTS_DEFAULT — the value every reader sees. Filtering on NULL
    * instead keeps/deletes the wrong rows, and the rewrite would
    * MATERIALIZE the nulls. Spark's parquet reader fills the defaults
    * PER FILE, which a driver-side withColumn backfill cannot do once the
    * touch set MIXES pre- and post-ALTER files (mergeSchema then reports
    * the column present, and the old files' rows silently read NULL;
    * found by the evolution property test's 56-step sequence).
    * `keepHidden` (transform tables) keeps the files' physical `_ptn_*`
    * columns so the surviving rows' cell stats — and the pruning they
    * feed — ride into the replacement files' footers. */
  private def rewriteScan(spark: SparkSession, paths: Seq[String],
                          tableSchema: Option[org.apache.spark.sql.types.StructType],
                          keepHidden: Boolean = false): DataFrame = {
    def merged = spark.read.option("mergeSchema", "true").parquet(paths: _*)
    tableSchema match {
      case Some(sch) =>
        val req =
          if (!keepHidden) sch
          else org.apache.spark.sql.types.StructType(
            sch.fields ++ merged.schema.fields.filter(_.name.startsWith("_ptn_")))
        spark.read.schema(req).parquet(paths: _*)
      case None => if (keepHidden) merged else dropHidden(merged)
    }
  }

  /** Copy-on-write UPDATE: set `assignments` on every row matching
    * `predicate`, rewriting ONLY the files whose manifest stats overlap
    * the predicate's implied column bounds — every other manifest line
    * carries forward VERBATIM (old bytes untouched, time travel intact).
    * This is the third row-level verb next to [[deleteWhere]] (merge-on-
    * read position deletes) and [[merge]] (keyed upsert): an arbitrary-
    * predicate mutation whose cost is O(files overlapping the predicate),
    * not O(table) — on a 100 TB date-clustered table, an UPDATE over one
    * month rewrites that month, and the stats that prune reads are the
    * SAME stats that bound the write (one metadata stack, both
    * directions). Refuses tables carrying delete entries
    * ([[requireNoDeletes]]). Returns the new version. */
  def updateWhere(spark: SparkSession, dir: String,
                  predicate: org.apache.spark.sql.Column,
                  assignments: Map[String, org.apache.spark.sql.Column]): Int = {
    import org.apache.spark.sql.functions.{col, when}
    require(assignments.nonEmpty, "updateWhere: no assignments")
    val (v, dataDir) = nextCommit(dir, Ref.Main)
    require(v > 1, s"ManifestTable.updateWhere: no committed data under $dir")
    val lines = manifestFiles(dir, v - 1)
    requireNoDeletes("updateWhere", dir, lines)
    val touched = touchSet(lines, predicateBounds(predicate))
    require(touched.nonEmpty,
      "updateWhere: predicate bounds exclude every file — nothing to update")
    // ONE simultaneous projection: every assignment (and the predicate)
    // evaluates against the ORIGINAL row — sequential withColumn would let
    // an assignment that rewrites a predicate column corrupt the next
    val rewritten = rewriteScan(spark, touched, None)
      .withColumns(assignments.map { case (c, expr) =>
        c -> when(predicate, expr).otherwise(col(c)) })
    land(dir, Ref.Main, v, CommitPlan(Base.Lines(lines), replaced = touched.toSet,
      added = stage(rewritten, dataDir).map(DataFile(_))))
  }

  /** Copy-on-write DELETE: drop every row where `predicate` is TRUE
    * (NULL keeps the row — SQL DELETE semantics), rewriting only the
    * files whose stats overlap the predicate's bounds; every other
    * manifest line carries forward verbatim. The alternative to
    * [[deleteWhere]]'s merge-on-read position deletes when the caller
    * wants a delete-free snapshot afterwards (the SQL catalog's DELETE
    * FROM routes here so its reads keep working without compaction).
    * Same delete-entry refusal as [[updateWhere]], same reason;
    * `tableSchema` as in [[rewriteScan]]. */
  def deleteWhereCow(spark: SparkSession, dir: String,
                     predicate: org.apache.spark.sql.Column,
                     tableSchema: Option[org.apache.spark.sql.types.StructType] = None): Int = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val (v, dataDir) = nextCommit(dir, Ref.Main)
    require(v > 1, s"ManifestTable.deleteWhereCow: no committed data under $dir")
    val lines = manifestFiles(dir, v - 1)
    requireNoDeletes("deleteWhereCow", dir, lines)
    val touched = touchSet(lines, predicateBounds(predicate))
    if (touched.isEmpty) return land(dir, Ref.Main, v, CommitPlan(Base.Lines(lines)))
    val rewritten = rewriteScan(spark, touched, tableSchema)
      .filter(not(coalesce(predicate, lit(false))))
    land(dir, Ref.Main, v, CommitPlan(Base.Lines(lines), replaced = touched.toSet,
      added = nonEmptyFiles(stage(rewritten, dataDir)).map(DataFile(_))))
  }

  /** DYNAMIC OVERWRITE as one commit: delete every row matching
    * `predicate` AND add `newFiles`, atomically at the next version —
    * the landing verb of `df.writeTo(t).overwrite(cond)`, i.e. the
    * nightly "replace this day's partition" pattern. The delete side is
    * stats-bounded exactly like [[deleteWhereCow]] (files whose stats
    * exclude the predicate carry forward verbatim; only stats-overlapping
    * files rewrite — bounds are necessary, not sufficient, so whole-match
    * files still pass through the filter scan), and the insert side is
    * the staged files the DSv2 write already produced. At 100 TB the
    * alternative — DELETE then INSERT as two commits — has a window where
    * readers see the day missing; this verb has none.
    *
    * On a BUCKET-partitioned table (`bucket` = (column, n)) the rewrite
    * re-splits survivors PER BUCKET and every replacement re-enters the
    * manifest with its `_ptn_bucket_*` tag — an untagged rewrite would
    * silently knock the table out of storage-partitioned-join
    * eligibility (the key-grouped scan falls back when ANY file lacks its
    * tag). The INSERT side arrives already bucket-split and tagged from
    * the clustered DSv2 writer. `renames` is the catalog's RENAME COLUMN
    * map (logical → physical); `tableSchema`/`keepHidden` as in
    * [[rewriteScan]]. */
  def overwriteWhere(spark: SparkSession, dir: String,
                     predicate: org.apache.spark.sql.Column,
                     newFiles: Seq[DataFile],
                     keepHidden: Boolean = false,
                     tableSchema: Option[org.apache.spark.sql.types.StructType] = None,
                     renames: Map[String, String] = Map.empty,
                     bucket: Option[(String, Int)] = None): Int = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val (v, dataDir) = nextCommit(dir, Ref.Main)
    val lines = if (v > 1) manifestFiles(dir, v - 1) else Seq.empty
    requireNoDeletes("overwriteWhere", dir, lines)
    // the user predicate names LOGICAL columns; footer stats (and the
    // files) carry PHYSICAL names — `renames` bridges both below
    val bounds = predicateBounds(predicate).map { case (c, b) =>
      (renames.getOrElse(c, c), b) }
    val touched = touchSet(lines, bounds)
    val rewritten: Seq[DataFile] =
      if (touched.isEmpty) Seq.empty
      else {
        val scan = rewriteScan(spark, touched, tableSchema, keepHidden)
        val logicalScan =
          if (renames.isEmpty) scan
          else scan.withColumnsRenamed(renames.map(_.swap)) // phys -> logical
        val survivors0 = logicalScan.filter(not(coalesce(predicate, lit(false))))
        val survivors =
          if (renames.isEmpty) survivors0
          else survivors0.withColumnsRenamed(renames)       // back to physical
        // `rw` subdir: the staged INSERT files move into data/commit-$v
        // by bare name before publish — the rewrite must never collide
        bucket match {
          case Some((c, n)) => stageBuckets(survivors, c, n, dataDir, s"$dataDir/rw", "rwb")
          case None => nonEmptyFiles(stage(survivors, s"$dataDir/rw")).map(DataFile(_))
        }
      }
    land(dir, Ref.Main, v, CommitPlan(Base.Lines(lines), replaced = touched.toSet,
      added = rewritten ++ newFiles))
  }

  /** Stage `df` split per bucket of `bucketCol` — the pmod formula is
    * GraftBucketFunction.bucketOf for longs. One partitionBy write under
    * `tmpDir` (it strips the routing column from file content, each leaf
    * holds one bucket); each non-empty file then hoists into `dataDir` as
    * `<prefix><bucket>-<name>` with its `_ptn_bucket_<col>` tag. Flat
    * bucket-tagged files are the bucketed write's own shape;
    * partition-dir layouts confuse downstream path handling. */
  private[graft] def stageBuckets(df: DataFrame, bucketCol: String, n: Int,
                                  dataDir: String, tmpDir: String,
                                  prefix: String): Seq[DataFile] = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    df.withColumn("_b", pmod(pmod(col(bucketCol), lit(n.toLong)) + n, lit(n.toLong)))
      .repartition(n, col("_b"))
      .write.partitionBy("_b").mode("overwrite").parquet(tmpDir)
    val moved = Option(new java.io.File(tmpDir).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("_b="))
      .flatMap { d =>
        val b = d.getName.stripPrefix("_b=").toInt
        parquetFiles(d.getPath).map { f =>
          val src = Paths.get(f)
          val target = Paths.get(dataDir, s"$prefix$b-${src.getFileName}")
          Files.move(src, target)
          DataFile(target.toAbsolutePath.toString,
            Map(s"_ptn_bucket_$bucketCol" -> (b.toDouble, b.toDouble)))
        }
      }
    rmTree(new java.io.File(tmpDir))
    val kept = nonEmptyFiles(moved.map(_.path)).toSet
    moved.filterNot(f => kept(f.path)).foreach(f => Files.delete(Paths.get(f.path)))
    moved.filter(f => kept(f.path))
  }

  /** (files to rewrite, files carried forward verbatim) for an
    * [[updateWhere]] touch set — assertable planning info, like
    * [[pruneInfo]]. */
  def updatePruneInfo(dir: String, predicate: org.apache.spark.sql.Column,
                      version: Int = -1): (Int, Int) = {
    val v = if (version > 0) version else currentVersion(dir)
    val lines = manifestFiles(dir, v)
    val touched = touchSet(lines, predicateBounds(predicate)).size
    (touched, lines.map(parseEntry).count(_.isData) - touched)
  }

  /** Incremental read (change feed): the rows ADDED between `fromVersion`
    * (exclusive) and `toVersion` (inclusive), computed from the MANIFEST
    * DIFF — only the delta files are ever opened, so reading "what's new
    * since yesterday's version" costs O(delta bytes) however large the
    * table (the Iceberg incremental-scan contract; a row-diff join like
    * q264's snapshotDiff costs O(table) and is only needed for non-append
    * histories). Fails loudly when the range contains an overwrite or a
    * delete commit — files removed or rows erased can't be expressed as
    * an append-only feed. */
  def changes(spark: SparkSession, dir: String, fromVersion: Int,
              toVersion: Int = -1): DataFrame = {
    val to = if (toVersion > 0) toVersion else currentVersion(dir)
    require(fromVersion >= 0 && fromVersion < to,
      s"changes: need 0 <= fromVersion < toVersion, got ($fromVersion, $to)")
    scanPaths(spark, addedDataFiles(dir, fromVersion, to))
  }

  /** Data-file paths ADDED between two versions — the manifest-diff
    * planning core shared by [[changes]] and the streaming source
    * ([[graft.sources.v2.ManifestStreamSource]]): O(|manifest|) string
    * work, zero file IO, with the append-only guards (file removals and
    * delete commits don't decompose into an append feed — fail loudly,
    * consumers resync from a snapshot). */
  private[graft] def addedDataFiles(dir: String, fromVersion: Int,
                                    toVersion: Int): Seq[String] = {
    val before = (if (fromVersion == 0) Seq.empty
      else manifestFiles(dir, fromVersion)).map(parseEntry)
    val after = manifestFiles(dir, toVersion).map(parseEntry)
    val beforeSet = before.map(_.path).toSet
    require(before.map(_.path).forall(after.map(_.path).toSet.contains),
      s"changes: v$fromVersion→v$toVersion removed files (overwrite/compaction in " +
        "range) — not an append-only history; use a snapshot diff")
    val added = after.filterNot(e => beforeSet.contains(e.path))
    require(added.forall(_.isData),
      s"changes: v$fromVersion→v$toVersion contains delete commits — rows were " +
        "erased; use a snapshot diff")
    added.map(_.path)
  }

  /** Number of data files in a snapshot — O(1) from the manifest, never a
    * directory listing. */
  def fileCount(dir: String, version: Int = -1): Int = {
    val v = if (version > 0) version else currentVersion(dir)
    manifestFiles(dir, v).size
  }

  /** Small-file compaction: rewrite the CURRENT snapshot into `numFiles`
    * files and publish it as a new overwrite commit. Readers of older
    * versions are untouched (their files are immutable); the new manifest
    * replaces a long accumulated append chain with `numFiles` entries, so
    * subsequent reads plan O(numFiles) splits instead of O(appends). At
    * 100 TB the equivalent operation binpacks per partition; the commit
    * protocol — rewrite, publish, never mutate — is identical. */
  def compact(spark: SparkSession, dir: String, numFiles: Int,
              tableSchema: Option[org.apache.spark.sql.types.StructType] = None): Int =
    // `tableSchema` (the catalog's physical view) makes the rewrite
    // default-aware: an ALTER-added DEFAULT column fills per file, so
    // compaction materializes the value every catalog reader already
    // sees — a raw mergeSchema compact would materialize NULL instead
    // and the default would be lost FOREVER (found by the r11 property
    // test's compact step; same class as the overwriteWhere fix)
    rewriteAll(read(spark, dir, tableSchema = tableSchema).coalesce(numFiles), dir)

  /** Publish `df` as an overwrite commit flagged as a REWRITE
    * (`dataChange = false` in Delta terms): its snapshot is bit-identical
    * in content to `v-1`, only the physical layout changed. The change
    * feed uses the marker to treat the commit as a row-level no-op
    * instead of refusing the range — without it, any table that ever
    * compacts becomes unreadable to incremental consumers. The marker is
    * a zero-meaning sidecar keyed by VERSION (`v<v>.rw`), reclaimed with
    * its manifest at expire. */
  private def rewriteAll(df: DataFrame, dir: String): Int =
    commitDf(df, dir, Ref.Main, CommitPlan(Base.Empty, sidecars = RewriteMarker))

  /** Versions in `(from, to]` whose commits are marked `dataChange=false`. */
  private def rewriteVersions(dir: String, from: Int, to: Int): Seq[Int] =
    ((from + 1) to to).filter(v => Files.exists(manifests(dir).resolve(s"v$v.rw")))

  /** BIN-PACK compaction: merge only the snapshot's SMALL data files
    * (on-disk size < `smallBytes`) into ~`targetBytes` outputs, carrying
    * every large file's manifest line VERBATIM — zero IO on the bytes
    * that are already well-sized. Plain [[compact]] rewrites the whole
    * snapshot, which at 100 TB means re-writing 100 TB to fix a few
    * thousand streaming-sized stragglers; the append-heavy steady state
    * needs exactly this verb (Iceberg's rewrite_data_files binpack with
    * min-input thresholds), where write amplification is bounded by the
    * small-file bytes alone. Published as a `dataChange=false` rewrite
    * (change feeds skip it). DELETE-TOLERANT (r13): the small subset is
    * read MERGE-ON-READ — equality deletes sequence-scope against the
    * small files' own sequences and position deletes anti-join exactly as
    * any snapshot read would — so the merged output materializes its
    * deletes; equality-delete lines carry VERBATIM (they still scope the
    * untouched large files, and the rewritten rows re-enter at sequence
    * v > delete seq, already materialized), while position-delete lines
    * go through [[reconcilePosDeletes]] (refs to rewritten files drop,
    * refs to surviving files carry, spanning files rewrite) — content is
    * bit-identical by construction, so the rewrite marker stays honest.
    * `tableSchema` (the catalog's physical view) makes the merge
    * default-aware exactly like [[compact]]: without it a raw mergeSchema
    * read would materialize NULL where every catalog reader sees an
    * ALTER-added EXISTS_DEFAULT, losing the default forever (ADVICE r12
    * high — the same class compact fixed in r11). REFUSES on a
    * bucket-partitioned table: bucket tags are manifest metadata, not
    * footer stats, so a cross-bucket merge would silently knock the table
    * out of storage-partitioned-join eligibility (compact's SQL verb
    * routes per-bucket; binpack's honest contract is refusal). No-ops
    * (no commit) when fewer than two files qualify. Returns the new
    * version, or the current one on a no-op. */
  def compactSmall(spark: SparkSession, dir: String, smallBytes: Long,
                   targetBytes: Long = 128L * 1024 * 1024,
                   tableSchema: Option[org.apache.spark.sql.types.StructType] = None): Int = {
    require(targetBytes > 0, "compactSmall: thresholds must be positive")
    binpack(spark, dir, "compactSmall", smallBytes, tableSchema, refuseBucketed = true) {
      (small, merged, dataDir) =>
        val smallTotal = small.map(p => new java.io.File(p).length()).sum
        val nOut = math.max(1, math.ceil(smallTotal.toDouble / targetBytes).toInt)
        nonEmptyFiles(stage(merged.coalesce(nOut), dataDir)).map(DataFile(_))
    }
  }

  /** The binpack commit shared by [[compactSmall]] and
    * [[compactSmallBucketed]]: `write` gets the small files, their
    * merge-on-read view and the commit's data directory, and returns the
    * merged files. Big data lines and equality-delete lines carry
    * VERBATIM (stats, blooms — no footer re-reads); position-delete lines
    * reconcile against the rewritten set. */
  private def binpack(spark: SparkSession, dir: String, verb: String, smallBytes: Long,
                      tableSchema: Option[org.apache.spark.sql.types.StructType],
                      refuseBucketed: Boolean = false)(
                      write: (Seq[String], DataFrame, String) => Seq[DataFile]): Int = {
    val cur = currentVersion(dir)
    require(cur > 0, s"$verb: no committed version under $dir")
    require(smallBytes > 0, s"$verb: thresholds must be positive")
    val lines = manifestFiles(dir, cur)
    require(!refuseBucketed || (!Files.exists(Paths.get(dir, "_partition.bucket")) &&
      !lines.exists(_.contains("_ptn_bucket_"))),
      s"$verb: $dir is bucket-partitioned — a cross-bucket merge " +
        "drops the metadata-only _ptn_bucket_* tags and the key-grouped " +
        "scan silently falls back to shuffling; use compact (the SQL verb " +
        "rewrites per bucket and re-tags)")
    val entries = lines.map(parseEntry)
    val small = entries.filter { e =>
      val f = new java.io.File(e.path); e.isData && f.exists() && f.length() < smallBytes
    }
    if (small.size < 2) return cur
    val v = cur + 1
    // MoR view of JUST the small files: their data entries plus every
    // delete entry of the snapshot — equality deletes apply by sequence,
    // position deletes by (file, pos); refs to large files match nothing
    val merged = assemble(spark, small ++ entries.filterNot(_.isData), dir,
      withMeta = false, tableSchema = tableSchema)
    val smallPaths = small.map(_.path)
    land(dir, Ref.Main, v, CommitPlan(Base.Lines(lines), replaced = smallPaths.toSet,
      added = write(smallPaths, merged, commitDir(dir, Ref.Main, v)),
      sidecars = RewriteMarker))
  }

  /** [[compactSmall]] for a BUCKET-PARTITIONED table (r13, handoff #2):
    * the plain verb refuses there because a cross-bucket merge cannot
    * carry the metadata-only `_ptn_bucket_*` tags; this one merges the
    * small subset PER BUCKET — the merged rows re-route through the same
    * pmod the clustered write used (recomputed from the key column, so
    * even an untagged straggler file lands right), each output file owns
    * exactly one bucket and re-enters the manifest WITH its tag — the
    * key-grouped scan keeps reporting its partitioning and
    * storage-partitioned joins survive binpack (Iceberg's binpack
    * preserves partitioning the same way). Delete handling, schema
    * handling, the dataChange=false marker, and the no-op contract are
    * [[compactSmall]]'s; the caller supplies the declared bucket spec
    * (the SQL procedure reads it from `_partition.bucket`). */
  def compactSmallBucketed(spark: SparkSession, dir: String,
                           bucketCol: String, nBuckets: Int, smallBytes: Long,
                           tableSchema: Option[org.apache.spark.sql.types.StructType] = None): Int = {
    require(nBuckets > 0, "compactSmallBucketed: thresholds must be positive")
    binpack(spark, dir, "compactSmallBucketed", smallBytes, tableSchema) {
      (_, merged, dataDir) =>
        stageBuckets(merged, bucketCol, nBuckets, dataDir, s"$dataDir/staged", "b")
    }
  }

  /** CLUSTERED compaction: rewrite the snapshot range-partitioned + sorted
    * on `cols`, so each output file owns a narrow value range and the
    * manifest's min/max stats (q315) actually prune. Plain [[compact]]
    * fixes the small-files problem but leaves every file spanning the full
    * range — after an append-heavy week a time-ranged query still opens
    * every file; this is the OPTIMIZE/ZORDER-lite maintenance pass that
    * restores skipping. Same commit protocol: readers of older versions
    * untouched. */
  def compactClustered(spark: SparkSession, dir: String, numFiles: Int,
                       cols: Seq[String],
                       tableSchema: Option[org.apache.spark.sql.types.StructType] = None): Int = {
    import org.apache.spark.sql.functions.col
    val cs = cols.map(col)
    rewriteAll(read(spark, dir, tableSchema = tableSchema)
      .repartitionByRange(numFiles, cs: _*).sortWithinPartitions(cs: _*), dir)
  }

  /** Commit `df` WITH per-commit NDV sketches for `cols` — the planner
    * statistics an engine's CBO reads to size joins (broadcast vs
    * shuffle) and aggregations WITHOUT scanning data (Iceberg keeps the
    * same as theta sketches in puffin files). One extra aggregate over
    * the input frame (no read-back) produces an HLL sketch per column,
    * persisted as a base64 sidecar next to the version's manifest;
    * sketches are MERGEABLE, so the table-level NDV at any version is
    * the union of its surviving commits' sketches — O(commits) tiny
    * reads at planning, zero data IO. */
  def commitWithNdv(df: DataFrame, dir: String, append: Boolean,
                    cols: Seq[String]): Int = {
    import org.apache.spark.sql.functions.{base64, col, hll_sketch_agg}
    require(cols.nonEmpty, "commitWithNdv: no columns given")
    val row = df.agg(
      base64(hll_sketch_agg(col(cols.head))).as(cols.head),
      cols.tail.map(c => base64(hll_sketch_agg(col(c))).as(c)): _*).head()
    // Spark's base64 is MIME-chunked (newline every 76 chars) — flatten
    // to one line or the sidecar's line-per-column format shears the
    // sketch bytes
    val lines = cols.zipWithIndex.map { case (c, i) =>
      s"$c:${row.getString(i).replaceAll("\\s", "")}" }
    commitDf(df, dir, Ref.Main, CommitPlan(Base.of(append), sidecars = Seq("ndv" -> lines)))
  }

  /** Table-level NDV estimate for `col` at a version: union of the HLL
    * sketches of every commit CONTRIBUTING data to that version's
    * manifest (commits without a sketch for the column contribute
    * nothing — the estimate is then a lower bound, flagged by the
    * second return). Returns (estimate, allCommitsCovered). */
  def ndvEstimate(spark: SparkSession, dir: String, col: String,
                  version: Int = -1): (Long, Boolean) = {
    import org.apache.spark.sql.functions.{hll_sketch_estimate, hll_union_agg, unbase64}
    import spark.implicits._
    val v = if (version > 0) version else currentVersion(dir)
    require(v > 0, s"ManifestTable.ndvEstimate: no committed version under $dir")
    val seqs = manifestFiles(dir, v).map(parseEntry).filter(_.isData)
      .map(_.seq).distinct.sorted
    val sketches = seqs.flatMap { sq =>
      val p = manifests(dir).resolve(s"v$sq.ndv")
      if (!Files.exists(p)) None
      else Files.readAllLines(p).asScala
        .find(_.startsWith(col + ":")).map(_.substring(col.length + 1))
    }
    if (sketches.isEmpty) return (0L, false)
    val est = sketches.toDF("b64")
      .agg(hll_sketch_estimate(hll_union_agg(unbase64($"b64"))))
      .head().getLong(0)
    (est, sketches.size == seqs.size)
  }

  /** Commit `df` WITH an exact equi-width histogram sidecar for a LONG
    * column — the range-selectivity statistic next to q338's NDV: bucket
    * counts are exact integers, MERGE by element-wise addition across
    * commits, and bound any range predicate's cardinality from both
    * sides with zero data IO. `lo`/`hi` frame the buckets (out-of-range
    * rows land in under/over counts); (hi−lo) must divide by `buckets`
    * so bucket edges are exact integers. */
  def commitWithHistogram(df: DataFrame, dir: String, append: Boolean,
                          histCol: String, lo: Long, hi: Long,
                          buckets: Int): Int = {
    import org.apache.spark.sql.functions.{col, count, lit, when, floor}
    require(hi > lo && (hi - lo) % buckets == 0,
      "commitWithHistogram: (hi - lo) must divide by buckets")
    val w = (hi - lo) / buckets
    val b = when(col(histCol) < lo, lit(-1L))
      .when(col(histCol) >= hi, lit(buckets.toLong))
      .otherwise(floor((col(histCol) - lo) / w).cast("long"))
    val counts = df.select(b.as("_b")).groupBy(col("_b"))
      .agg(count(lit(1)).as("_n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cells = (0 until buckets).map(i => counts.getOrElse(i.toLong, 0L))
    val line = s"$histCol:$lo:$hi:${counts.getOrElse(-1L, 0L)}:" +
      s"${counts.getOrElse(buckets.toLong, 0L)}:${cells.mkString(",")}"
    commitDf(df, dir, Ref.Main, CommitPlan(Base.of(append), sidecars = Seq("hist" -> Seq(line))))
  }

  /** Range-cardinality SANDWICH for `histCol ∈ [qlo, qhi)` at a version,
    * from the merged histograms of its contributing commits: buckets
    * fully inside the range bound from BELOW, intersecting buckets from
    * ABOVE — deterministic bounds, not estimates (the histogram counts
    * are exact), so `lower ≤ |σ| ≤ upper` always holds when `covered`.
    * Returns (lower, upper, covered = every contributing commit carried
    * a histogram for the column). */
  def rangeCardinality(dir: String, histCol: String, qlo: Long, qhi: Long,
                       version: Int = -1): (Long, Long, Boolean) = {
    val v = if (version > 0) version else currentVersion(dir)
    require(v > 0, s"ManifestTable.rangeCardinality: no committed version under $dir")
    val seqs = manifestFiles(dir, v).map(parseEntry).filter(_.isData)
      .map(_.seq).distinct.sorted
    var lo = 0L; var hi = 0L; var w = 0L
    var under = 0L; var over = 0L
    var cells: Array[Long] = null
    var covered = true
    seqs.foreach { sq =>
      val p = manifests(dir).resolve(s"v$sq.hist")
      val lineOpt =
        if (!Files.exists(p)) None
        else Files.readAllLines(p).asScala.find(_.startsWith(histCol + ":"))
      lineOpt match {
        case None => covered = false
        case Some(line) =>
          val parts = line.substring(histCol.length + 1).split(':')
          val (l, h) = (parts(0).toLong, parts(1).toLong)
          val cs = parts(4).split(',').map(_.toLong)
          if (cells == null) {
            lo = l; hi = h; cells = new Array[Long](cs.length)
            w = (hi - lo) / cs.length
          }
          require(l == lo && h == hi && cs.length == cells.length,
            s"rangeCardinality: commit $sq histogram frame mismatch")
          under += parts(2).toLong; over += parts(3).toLong
          var i = 0
          while (i < cs.length) { cells(i) += cs(i); i += 1 }
      }
    }
    if (cells == null) return (0L, Long.MaxValue, false)
    var lower = 0L; var upper = 0L
    cells.indices.foreach { i =>
      val (bLo, bHi) = (lo + i * w, lo + (i + 1) * w)
      if (bLo >= qlo && bHi <= qhi) { lower += cells(i); upper += cells(i) }
      else if (bHi > qlo && bLo < qhi) upper += cells(i)
    }
    if (qlo < lo) upper += under
    if (qhi > hi) upper += over
    (lower, upper, covered)
  }

  /** Z-ORDER compaction: rewrite the snapshot ordered by the interleaved
    * z-value of TWO columns, so every file carries a narrow min/max range
    * in BOTH — the multi-dimensional OPTIMIZE [[compactClustered]] can't
    * give (a 1-D sort makes the second column's per-file ranges WORSE,
    * not better). Same commit protocol; stats land in the manifest at
    * publish like any commit. */
  def compactZOrder(spark: SparkSession, dir: String, numFiles: Int,
                    colA: String, colB: String,
                    tableSchema: Option[org.apache.spark.sql.types.StructType] = None): Int =
    rewriteAll(graft.operators.ZOrder.zOrderBy(
      read(spark, dir, tableSchema = tableSchema), colA, colB, numPartitions = numFiles), dir)

  /** The event-kind column every [[changeFeed]] row carries
    * (`insert` | `delete`). */
  val ChangeTypeCol = "_change_type"

  /** The [[changeFeed]] contract for a MAINTENANCE-ONLY range (every
    * commit in range marked `dataChange=false` — compaction, binpack,
    * rewrite_deletes): the feed collapses to the SCHEMALESS empty
    * relation (`spark.emptyDataFrame`), never a typed empty frame.
    * Consumers (MV refresh, replication) must treat that shape as
    * "content bit-identical — advance the cursor", which is NOT the same
    * as an empty delta of a typed feed (an error state upstream could
    * look like one). This helper is the seam: it answers the question
    * AND enforces the contract — a [[ChangeTypeCol]]-less feed that
    * nonetheless carries a schema is a corrupt feed and fails loudly
    * here instead of silently reading as "no changes". */
  def isMaintenanceOnlyFeed(feed: DataFrame): Boolean = {
    val maintOnly = !feed.columns.contains(ChangeTypeCol)
    require(!maintOnly || feed.schema.isEmpty,
      "changeFeed contract violation: a feed without " +
        s"'$ChangeTypeCol' must be the schemaless empty relation " +
        s"(maintenance-only range); got schema ${feed.schema.simpleString}")
    maintOnly
  }

  /** Change-data-feed between two versions: every row the range ADDED
    * (`insert`) and every previously-visible row the range ERASED via
    * equality deletes (`delete`) — the Delta-CDF/Iceberg-changelog shape
    * downstream incremental consumers (IVM, replication, audit) ingest
    * instead of diffing snapshots. Deletes are sequence-scoped like the
    * read path: a delete at seq s erases only matching rows from data
    * committed BEFORE s, and the erased rows are reconstructed by
    * scanning exactly those files (O(affected files), never a snapshot
    * diff). Position deletes decompose too: their rows are pinned by
    * exact (file, row-position), reconstructed from the pre-delete view
    * with row indexes attached. Commits MARKED as rewrites
    * (`dataChange=false`: compact/compactClustered/compactZOrder) are
    * row-level NO-OPS — the feed splits the range at each marker and
    * unions the segment feeds, so a table that compacts weekly stays
    * consumable end-to-end. UNMARKED overwrites still refuse loudly
    * (file REMOVALS that change content don't decompose into row-level
    * changes; consumers resync from the rewritten snapshot — same rule
    * as [[changes]]). */
  def changeFeed(spark: SparkSession, dir: String,
                 fromVersion: Int, toVersion: Int = -1): DataFrame = {
    val to0 = if (toVersion > 0) toVersion else currentVersion(dir)
    val rewrites = rewriteVersions(dir, fromVersion, to0)
    if (rewrites.nonEmpty) {
      // segment at each rewrite: (from, r1-1], (r1, r2-1], …, (rk, to].
      // Each boundary version contributes ZERO events — its content is
      // v-1's by the marker's contract — and each segment re-enters the
      // no-removals fast path below.
      val bounds = (fromVersion +: rewrites.map(r => r)).zip(
        rewrites.map(_ - 1) :+ to0)
      return bounds.filter { case (f, t) => t > f }
        .map { case (f, t) => changeFeed(spark, dir, f, t) }
        .reduceOption((a, b) => a.unionByName(b, allowMissingColumns = true))
        .getOrElse(spark.emptyDataFrame)
    }
    import org.apache.spark.sql.functions.{col, lit}
    val to = to0
    val before = manifestFiles(dir, fromVersion).map(parseEntry)
    val after = manifestFiles(dir, to).map(parseEntry)
    val beforePaths = before.map(_.path).toSet
    require(before.map(_.path).forall(after.map(_.path).toSet.contains),
      s"changeFeed: v$fromVersion→v$to removed files (overwrite/compaction " +
        "in range) — row-level changes undefined; resync from the snapshot")
    val added = after.filterNot(e => beforePaths.contains(e.path))
    val inserts = added.filter(_.isData) match {
      case Nil => None
      case ds  => Some(scanPaths(spark, ds.map(_.path))
        .withColumn("_change_type", lit("insert")))
    }
    val deletes = added.filter(_.deleteKey.isDefined)
      .groupBy(d => (d.seq, d.deleteKey.get))
      .map { case ((seq, keyCol), des) =>
        // rows erased = the merge-on-read view VISIBLE just before this
        // delete's sequence (earlier deletes of BOTH kinds already
        // applied — a key erased twice emits one delete event per actual
        // erasure, and a re-delete of an already-gone key emits nothing;
        // excluding earlier position deletes would re-emit a spurious
        // delete event for a row a position delete already erased —
        // ADVICE r8), semi-joined against this commit's keys
        val visible = assemble(spark,
          after.filter(_.seq < seq), dir, withMeta = false)
        val cols = delKeyCols(keyCol)
        val keys = readParquet(spark, des.map(_.path), merge = false)
          .select(cols.zipWithIndex.map { case (c, i) =>
            col(c).as(s"_del_k$i") }: _*)
        val cond = cols.zipWithIndex
          .map { case (c, i) => visible(c) === keys(s"_del_k$i") }
          .reduce(_ && _)
        visible.join(keys, cond, "left_semi")
          .withColumn("_change_type", lit("delete"))
      }.toSeq
    // position-delete events: the erased rows are pinned by exact
    // (file, row-position), so reconstruction scans the pre-delete
    // merge-on-read view WITH row indexes attached and semi-joins the
    // delete pairs — O(affected files), like the equality branch
    val posDeletes = added.filter(_.posDelete).groupBy(_.seq)
      .map { case (seq, des) =>
        val visible = assemble(spark,
          after.filter(e => e.seq < seq), dir, withMeta = true)
        val dels = readParquet(spark, des.map(_.path), merge = false)
        visible.join(dels,
            visible(MetaCols(0)) === dels("file_path") &&
              visible(MetaCols(1)) === dels("pos"), "left_semi")
          .drop(MetaCols: _*).drop("file_path", "pos")
          .withColumn("_change_type", lit("delete"))
      }.toSeq
    (inserts.toSeq ++ deletes ++ posDeletes)
      .reduceOption((a, b) => a.unionByName(b, allowMissingColumns = true))
      .getOrElse(spark.emptyDataFrame)
  }

  private def scanPaths(spark: SparkSession, paths: Seq[String]): DataFrame =
    dropHidden(readParquet(spark, paths, merge = true))

  /** `spark.read[.option("mergeSchema")].parquet(paths)` with the
    * INFERENCE memoized per exact file set: committed files are immutable
    * and every path's (length, mtime) enters the key, so the cached
    * StructType is byte-for-byte what inference would produce — and the
    * read plan is identical (an explicit schema and an inferred one drive
    * the same per-file clipping/NULL-fill). Inference was a per-call
    * driver pass over every footer (a distributed JOB when mergeSchema
    * spans many files); a lifecycle face re-reads the same snapshot
    * dozens of times and paid it each time (guide §5: driver work). */
  private val inferCache =
    new LruMemo[String, org.apache.spark.sql.types.StructType](8192)
  private def inferKey(paths: Seq[String], merge: Boolean): String =
    (if (merge) "M\n" else "1\n") + paths.sorted.map { p =>
      val f = new java.io.File(p); s"$p|${f.length}|${f.lastModified}"
    }.mkString("\n")
  private def readParquet(spark: SparkSession, paths: Seq[String],
                          merge: Boolean): DataFrame = {
    val key = inferKey(paths, merge)
    inferCache.get(key) match {
      case Some(hit) => spark.read.schema(hit).parquet(paths: _*)
      case None =>
        val df =
          if (merge) spark.read.option("mergeSchema", "true").parquet(paths: _*)
          else spark.read.parquet(paths: _*)
        inferCache.put(key, df.schema)
        df
    }
  }

  /** The mergeSchema-inferred StructType of an exact file set, memoized
    * like [[readParquet]] — the SQL catalog used to run a distributed
    * footer-merge inference job PER TABLE RESOLUTION (one per SQL
    * statement touching the table); committed files are immutable, so
    * the file-set fingerprint makes the memoized type exact. */
  private[graft] def mergedParquetSchema(spark: SparkSession, paths: Seq[String])
      : org.apache.spark.sql.types.StructType = {
    val key = inferKey(paths, merge = true)
    inferCache.get(key).getOrElse {
      val s = spark.read.option("mergeSchema", "true").parquet(paths: _*).schema
      inferCache.put(key, s)
      s
    }
  }

  // ------------------------------------------------------------------
  // Hidden partitioning (Iceberg-style partition transforms)
  // ------------------------------------------------------------------

  /** A declared partition transform: a derived value computed from a
    * SOURCE column at commit time, clustered on at write, and pruned on
    * at read — while the reader only ever names the source column
    * (Iceberg's hidden partitioning: nobody queries `_ptn_days_ts`, they
    * query `ts`, and the table maps the predicate through the declared
    * transform). The transform value is materialized as a reserved
    * `_ptn_`-prefixed integer column INSIDE the data files, so the
    * existing footer-stats pipeline records per-file transform ranges in
    * the manifest with zero new read-path machinery; every read drops
    * the reserved columns, keeping them invisible. */
  sealed trait Transform {
    def source: String
    /** Reserved hidden column carrying the transform value. */
    def ptnCol: String
    private[sources] def metaLine: String
    private[sources] def column(df: DataFrame): org.apache.spark.sql.Column
  }

  /** `days(source)`: the source DATE/TIMESTAMP as epoch days — the
    * calendar-grain transform for time-ranged pruning. Computed as the
    * UTC calendar day (`cast to date`), portable across engines. */
  final case class DaysTransform(source: String) extends Transform {
    val ptnCol = s"_ptn_days_$source"
    private[sources] def metaLine = s"days|$source|$ptnCol"
    private[sources] def column(df: DataFrame): org.apache.spark.sql.Column = {
      import org.apache.spark.sql.functions._
      datediff(col(source).cast("date"), to_date(lit("1970-01-01"))).cast("long")
    }
  }

  /** `bucket(n, source)`: a stable hash of the source value mod `n` — the
    * point-lookup transform for high-cardinality keys where calendar
    * grains don't apply. Hash = first 24 bits of md5("b:" + value), the
    * same engine-independent keying used everywhere else in this repo
    * (retry-stable, reproducible driver-side for planning). */
  final case class BucketTransform(n: Int, source: String) extends Transform {
    require(n >= 2 && n <= (1 << 20), s"bucket($n): n must be in [2, 2^20]")
    val ptnCol = s"_ptn_bucket${n}_$source"
    private[sources] def metaLine = s"bucket|$n|$source|$ptnCol"
    private[sources] def column(df: DataFrame): org.apache.spark.sql.Column = {
      import org.apache.spark.sql.functions._
      (conv(substring(md5(concat(lit("b:"), col(source).cast("string"))), 1, 6),
        16, 10) % n).cast("long")
    }
    /** Driver-side twin of [[column]] — byte-identical, so planning a
      * point read computes the bucket without touching data. */
    def bucketOf(value: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(("b:" + value).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val v = ((d(0) & 0xffL) << 16) | ((d(1) & 0xffL) << 8) | (d(2) & 0xffL)
      v % n
    }
  }

  /** The table's declared partition spec, empty if unpartitioned. */
  def partitionTransforms(dir: String): Seq[Transform] = {
    val p = manifests(dir).resolve("ptn")
    if (!Files.exists(p)) Seq.empty
    else Files.readAllLines(p).asScala.toSeq.map { line =>
      line.split('|') match {
        case Array("days", src, _)      => DaysTransform(src)
        case Array("bucket", n, src, _) => BucketTransform(n.toInt, src)
        case _ => throw new IllegalStateException(
          s"partitionTransforms: unreadable spec line '$line'")
      }
    }
  }

  /** Commit `df` clustered by the table's partition transforms. First call
    * declares the spec (write-once `ptn` metadata next to the manifests);
    * later commits must declare the SAME spec — partition evolution is out
    * of scope, a mismatch fails loudly. The transforms are computed from
    * source columns, the frame is range-clustered on them IN GIVEN ORDER
    * (put the equality-probed bucket first, the range-probed days last:
    * major→minor, so both prune), and the hidden columns ride into the
    * data files where footer stats pick them up — the manifest line then
    * carries each file's transform range and [[readWhere]]-style pruning
    * applies with no new metadata shape. At 100 TB this is the cheapest
    * planning win there is: a `ts >= yesterday` or `key = ?` query plans
    * against transform-grain manifests and opens only the matching
    * files — no physical directories, no listing, and the layout can be
    * recomputed at any compaction because the transform derives from the
    * source columns. */
  /** Declare the table's partition spec without committing data — the
    * `CREATE TABLE ... PARTITIONED BY (days(ts))` half of the SQL loop
    * (the first `commitPartitioned` call declares it implicitly for the
    * library path). Write-once: a concurrent declaration of the same
    * spec is a benign race, a different one fails the next commit's
    * spec check. */
  def declareTransforms(dir: String, transforms: Seq[Transform]): Unit = {
    require(transforms.nonEmpty, "declareTransforms: no transforms given")
    if (partitionTransforms(dir).isEmpty) {
      Files.createDirectories(manifests(dir))
      val tmp = manifests(dir).resolve(s".ptn.tmp-${java.util.UUID.randomUUID()}")
      Files.write(tmp, transforms.map(_.metaLine).asJava)
      try Files.move(tmp, manifests(dir).resolve("ptn"))
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp): Unit }
    }
  }

  /** PARTITION SPEC EVOLUTION (Iceberg's contract, re-expressed over
    * manifest stats): the declared spec may gain or lose a transform on
    * a LIVE table because nothing about it is physical — new commits
    * cluster by the new spec and carry its `_ptn_*` footer stats; old
    * files simply LACK the new transform's stats entry and every prune
    * keeps them conservatively (`stats.get(c).forall` — a missing stat
    * never cuts). No rewrite, no commit, no directory layout to
    * migrate: at 100 TB "start partitioning this table by day" is one
    * metadata line, and the benefit phases in with every new commit
    * (or all at once after a compaction rewrites old files under the
    * current spec). */
  def addTransform(dir: String, t: Transform): Unit = {
    val cur = partitionTransforms(dir)
    require(!cur.exists(_.source == t.source),
      s"addTransform: a transform on '${t.source}' is already declared")
    writeTransformSpec(dir, cur :+ t)
  }

  /** Remove one transform from the spec: future commits stop clustering
    * by it, existing files' `_ptn_*` stats become inert (the scan only
    * maps predicates through DECLARED transforms). */
  def dropTransform(dir: String, source: String): Unit = {
    val cur = partitionTransforms(dir)
    require(cur.exists(_.source == source),
      s"dropTransform: no declared transform on '$source'")
    writeTransformSpec(dir, cur.filterNot(_.source == source))
  }

  private def writeTransformSpec(dir: String, spec: Seq[Transform]): Unit = {
    Files.createDirectories(manifests(dir))
    val p = manifests(dir).resolve("ptn")
    if (spec.isEmpty) { Files.deleteIfExists(p): Unit; return }
    val tmp = manifests(dir).resolve(s".ptn.tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, spec.map(_.metaLine).asJava)
    Files.move(tmp, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  }

  def commitPartitioned(df: DataFrame, dir: String, append: Boolean,
                        transforms: Seq[Transform], numFiles: Int): Int = {
    import org.apache.spark.sql.functions.col
    require(transforms.nonEmpty, "commitPartitioned: no transforms given")
    require(numFiles >= 1, "commitPartitioned: numFiles must be >= 1")
    declareTransforms(dir, transforms)
    val spec = partitionTransforms(dir)
    require(spec == transforms,
      s"commitPartitioned: declared spec $spec != given $transforms — " +
        "partition evolution is not supported; use a new table")
    val withP = transforms.foldLeft(df)((d, t) => d.withColumn(t.ptnCol, t.column(d)))
    val cols = transforms.map(t => col(t.ptnCol))
    commit(withP.repartitionByRange(numFiles, cols: _*)
      .sortWithinPartitions(cols: _*), dir, append)
  }

  /** Hidden-partition range read on a SOURCE column carrying a `days`
    * transform: `[loDay, hiDay]` are epoch days, mapped through the
    * declared transform to a manifest stats prune — a superset of the
    * matching rows (the caller still applies the exact source filter).
    * Fails loudly if no days transform covers `source` (a typo must not
    * silently full-scan). */
  def readSourceDays(spark: SparkSession, dir: String, source: String,
                     loDay: Long, hiDay: Long, version: Int = -1): DataFrame = {
    val t = daysTransformFor(dir, source)
    readWhere(spark, dir, t.ptnCol, loDay.toDouble, hiDay.toDouble, version)
  }

  /** (files kept, data files total) for a source-days prune. */
  def sourceDaysPruneInfo(dir: String, source: String, loDay: Long,
                          hiDay: Long, version: Int = -1): (Int, Int) =
    pruneInfo(dir, daysTransformFor(dir, source).ptnCol,
      loDay.toDouble, hiDay.toDouble, version)

  /** Hidden-partition point read on a SOURCE column carrying a `bucket`
    * transform: the bucket of `value` is computed driver-side (zero data
    * IO) and pruned via the manifest's per-file transform range. Superset
    * semantics as always. */
  def readSourceBucket(spark: SparkSession, dir: String, source: String,
                       value: String, version: Int = -1): DataFrame = {
    val t = bucketTransformFor(dir, source)
    val b = t.bucketOf(value).toDouble
    readWhere(spark, dir, t.ptnCol, b, b, version)
  }

  /** (files kept, data files total) for a source-bucket prune. */
  def sourceBucketPruneInfo(dir: String, source: String, value: String,
                            version: Int = -1): (Int, Int) = {
    val t = bucketTransformFor(dir, source)
    val b = t.bucketOf(value).toDouble
    pruneInfo(dir, t.ptnCol, b, b, version)
  }

  private def daysTransformFor(dir: String, source: String): DaysTransform =
    partitionTransforms(dir).collectFirst {
      case t @ DaysTransform(`source`) => t
    }.getOrElse(throw new IllegalArgumentException(
      s"no days transform declared on '$source' under $dir — " +
        s"declared: ${partitionTransforms(dir)}"))

  private def bucketTransformFor(dir: String, source: String): BucketTransform =
    partitionTransforms(dir).collectFirst {
      case t @ BucketTransform(_, `source`) => t
    }.getOrElse(throw new IllegalArgumentException(
      s"no bucket transform declared on '$source' under $dir — " +
        s"declared: ${partitionTransforms(dir)}"))

  /** Claim version `v`'s SOURCE-TAG sidecar (`v<v>.src`) for `tag` — the
    * idempotence ledger a streaming sink reads to distinguish "this
    * version IS my batch, already committed" from "a foreign writer took
    * my version number" (ADVICE r8: the silent-drop fix). No-replace
    * creation: the first writer's tag sticks; a claim against an existing
    * tag is a no-op (callers then read [[sourceTag]] to adjudicate).
    * Written BEFORE the manifest CAS, so a crash between the two leaves a
    * tag without a manifest — harmless (the next attempt of the same
    * batch re-verifies its own tag and proceeds), never the reverse
    * (a manifest whose provenance can't be checked). */
  def claimSourceTag(dir: String, v: Int, tag: String): Unit = {
    Files.createDirectories(manifests(dir))
    val tmp = manifests(dir).resolve(
      s".v$v.src.tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, Seq(tag).asJava)
    try Files.move(tmp, manifests(dir).resolve(s"v$v.src"))
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp): Unit
    }
  }

  /** The source tag claimed for version `v`, if any. Commits made through
    * [[commit]]/[[delete]]/compaction never write one — an untagged
    * version read by a sink expecting its own tag is proof of a foreign
    * writer. */
  def sourceTag(dir: String, v: Int): Option[String] = {
    val p = manifests(dir).resolve(s"v$v.src")
    if (Files.exists(p)) Some(Files.readAllLines(p).asScala.mkString("\n"))
    else None
  }

  /** RENAME the table directory and rewrite every manifest's absolute
    * data paths (main versions AND branch namespaces) — zero data IO,
    * O(|manifests|) string work. Backs ALTER TABLE RENAME in the SQL
    * catalog. Rename is an offline admin verb: in-flight readers resolved
    * their file lists at load time and keep working until they hit the
    * moved bytes; there is no CAS across two directories. Stats, blooms,
    * source tags, publish instants and the epoch ledger are path-free and
    * move untouched. */
  def renameDir(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    require(Files.isDirectory(src), s"renameDir: no table at $from")
    require(!Files.exists(dst), s"renameDir: target $to already exists")
    Option(dst.getParent).foreach(p => Files.createDirectories(p): Unit)
    val fromAbs = src.toAbsolutePath.normalize.toString
    Files.move(src, dst)
    val toAbs = dst.toAbsolutePath.normalize.toString
    def rewrite(md: Path): Unit = versionsOnDisk(md).foreach { v =>
      val f = md.resolve(s"v$v.list")
      val lines = Files.readAllLines(f).asScala.map(_.replace(fromAbs, toAbs))
      Files.write(f, lines.asJava): Unit
    }
    val md = manifests(to)
    if (Files.isDirectory(md)) {
      rewrite(md)
      Option(md.toFile.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("branch-"))
        .foreach(b => rewrite(b.toPath))
    }
  }

  /** Durable stream-epoch ledger (`_manifests/stream.epochs`, one tag per
    * line). The per-version `v<N>.src` sidecars are the commit-time
    * record, but [[expire]] reclaims them with their manifests — before
    * it does, any `stream-epoch:` tag is rolled up here, so a replayed
    * epoch (checkpoint reset / re-delivery after retention) still finds
    * its record and commits NOTHING instead of double-appending (ADVICE
    * r9). The streaming sink also appends post-publish, making the ledger
    * the O(1) dedup fast path and the O(versions) .src scan only the
    * crash-window fallback. The single-logical-stream-per-table contract
    * makes the read-check-append safe; the JVM-level lock covers an
    * expire racing the sink in-process. */
  private val epochLedgerLock = new Object
  def recordStreamEpochs(dir: String, tags: Seq[String]): Unit =
    epochLedgerLock.synchronized {
      val fresh = tags.filter(_.startsWith("stream-")).distinct
      if (fresh.isEmpty) return
      Files.createDirectories(manifests(dir))
      val p = manifests(dir).resolve("stream.epochs")
      val have = if (Files.exists(p)) Files.readAllLines(p).asScala.toSet
                 else Set.empty[String]
      val add = fresh.filterNot(have)
      if (add.nonEmpty)
        Files.write(p, add.asJava,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND): Unit
    }

  def streamEpochLedger(dir: String): Set[String] = {
    val p = manifests(dir).resolve("stream.epochs")
    if (Files.exists(p)) Files.readAllLines(p).asScala.toSet
    else Set.empty
  }

  /** Roll the table BACK to `toVersion` as a NEW commit (Delta RESTORE /
    * Iceberg rollback semantics): the next version's manifest is the
    * target version's manifest verbatim — delete entries, file stats and
    * all — so the restored state is bit-identical to the historical read
    * while history stays intact (the bad commits remain time-travelable
    * until expiry reclaims them). Zero data IO at ANY table size: a
    * rollback of a 100 TB table copies a few KB of manifest lines,
    * because data files are immutable and the manifest IS the state.
    * Published through the same write-then-rename atomic create as every
    * other commit. Returns the new version. */
  def rollback(dir: String, toVersion: Int): Int = {
    val cur = currentVersion(dir)
    require(toVersion >= 1 && toVersion <= cur,
      s"rollback: version $toVersion not in [1, $cur]")
    land(dir, Ref.Main, cur + 1, CommitPlan(Base.Lines(manifestFiles(dir, toVersion))))
  }

  /** The snapshot's file inventory as a DataFrame — the `table$files`
    * metadata table (Iceberg/Delta expose the same): one row per manifest
    * entry with its commit sequence, kind, and which planning metadata it
    * carries. Built from the manifest ALONE — zero file IO, zero
    * listings — so it's the O(|files|) tool for answering "why didn't my
    * point read skip?" (no bloom for that column) or "is compaction due?"
    * (many entries, low seq spread) without touching data. */
  def filesTable(spark: SparkSession, dir: String, version: Int = -1): DataFrame = {
    import spark.implicits._
    val v = if (version > 0) version else currentVersion(dir)
    require(v > 0, s"ManifestTable.filesTable: no committed version under $dir")
    val all = manifestFiles(dir, v).map(parseEntry)
    val side = bloomSidecars(dir, all.filter(_.isData).map(_.seq).distinct)
    all.map { e =>
      val kind =
        if (e.posDelete) "pos_delete"
        else if (e.deleteKey.isDefined) "eq_delete" else "data"
      (e.seq, kind, e.path, e.stats.keys.toSeq.sorted.mkString(","),
        (e.blooms.keySet ++ side.getOrElse(e.path, Map.empty).keySet)
          .toSeq.sorted.mkString(","))
    }.toDF("seq", "kind", "path", "stats_cols", "bloom_cols")
  }

  /** Commit history as a DataFrame — the `table$history` metadata table:
    * per version, its entry counts by kind. Manifest-only, zero data IO. */
  def historyTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val md = manifests(dir)
    versionsOnDisk(md).sorted.map { v =>
      val es = manifestFiles(dir, v).map(parseEntry)
      (v, es.size, es.count(_.isData),
        es.count(_.deleteKey.isDefined), es.count(_.posDelete))
    }.toDF("version", "n_entries", "n_data_files", "n_eq_deletes", "n_pos_deletes")
  }

  /** The snapshot read PLUS row provenance: a `_commit_version` column
    * carrying the commit sequence of the FILE each live row resides in —
    * "which ingest wrote this row?" answered with zero extra IO (the
    * `_metadata.file_path` column is free at the scan, and the file→seq
    * map is the manifest the driver already holds, broadcast as
    * |files| rows). Merge-on-read deletes apply as usual — provenance is
    * reported for LIVE rows only. Honesty note (same as Iceberg): a
    * file's sequence is the commit that WROTE THE FILE, so compaction or
    * copy-on-write rewrites re-stamp the rows they move; the change feed
    * ([[changeFeed]]) is the true ingest ledger across rewrites. */
  def readWithProvenance(spark: SparkSession, dir: String,
                         version: Int = -1): DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_replace, broadcast}
    import spark.implicits._
    val v = if (version > 0) version else currentVersion(dir)
    require(v > 0, s"ManifestTable.readWithProvenance: no committed version under $dir")
    val entries = manifestFiles(dir, v).map(parseEntry)
    val df = assemble(spark, entries, dir, withMeta = true)
    if (!entries.exists(_.isData)) return df
    val fmap = entries.filter(_.isData).map(e => (e.path, e.seq))
      .toDF("_pv_path", "_commit_version")
    df.join(broadcast(fmap),
        regexp_replace(col(MetaCols(0)), "^file:/+", "/") === fmap("_pv_path"),
        "left")
      .drop("_pv_path").drop(MetaCols: _*)
  }

  /** Write-Audit-Publish: stage `df`'s files where no reader looks, AUDIT
    * the staged bytes with row-level quality checks, and publish the
    * manifest only if clean — the pattern that keeps a bad upstream batch
    * from ever becoming a visible snapshot (vs publish-then-repair, which
    * leaks garbage to concurrent readers and pollutes the change feed).
    * The audit reads what was WRITTEN, not the input plan — corruption in
    * the write path itself is caught. On violations the staged files are
    * deleted and the table is bit-untouched (same guarantee as the DSv2
    * abort path). Returns (published version, 0) or (-1, violations). */
  def wapCommit(df: DataFrame, dir: String, append: Boolean,
                checks: Seq[graft.operators.Quality.Check]): (Int, Long) = {
    val staging = s"$dir/staging/wap-${java.util.UUID.randomUUID()}"
    df.write.mode("overwrite").parquet(staging)
    val bad = graft.operators.Quality.quarantine(
      df.sparkSession.read.parquet(staging), checks)._2.count()
    if (bad > 0) {
      rmTree(new java.io.File(staging))
      (-1, bad)
    } else {
      // Publish under the canonical commit path, NOT the staging path:
      // parseEntry derives a file's commit sequence from the
      // `/data/commit-N/` segment, and a `staging/wap-…` path parses as
      // seq 0 — which would let any equality/position delete committed
      // BEFORE this WAP commit erase rows from the newly published data
      // and misorder the change feed (ADVICE r8, high). The audited files
      // move (same filesystem — a metadata rename, the bytes audited are
      // the bytes published) into the version directory computed at
      // publish time, the same inherit-the-publishing-sequence rule as
      // Iceberg's WAP.
      val (v, dataDir) = nextCommit(dir, Ref.Main)
      val target = new java.io.File(dataDir)
      Files.createDirectories(target.getParentFile.toPath)
      // leftovers of a crashed attempt at this version: unreferenced (no
      // manifest claimed v), safe to clear before the move
      if (target.exists()) rmTree(target)
      Files.move(Paths.get(staging), target.toPath)
      (publish(dir, Ref.Main, v, CommitPlan(Base.of(append),
        added = parquetFiles(dataDir).map(DataFile(_)))), 0L)
    }
  }

  // ------------------------------------------------------------- branches

  private def branchMd(dir: String, name: String): Path = {
    require(name.matches("[A-Za-z0-9_-]+"), s"illegal branch name '$name'")
    manifests(dir).resolve(s"branch-$name")
  }
  /** 12 hex chars — fits SeqRe's optional `-[0-9a-f]{12}` suffix, so a
    * branch data directory `commit-<v>-<nonce>` parses to sequence v just
    * like an optimistic writer's. */
  private def branchNonce(name: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(name.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(12)

  /** Create branch `name` forked at the CURRENT main version (Iceberg
    * branch refs, git semantics): the branch starts as an exact copy of
    * the fork snapshot and its commits are numbered fork+1, fork+2, … in
    * its OWN manifest namespace (`_manifests/branch-<name>/`). Main never
    * sees branch commits — writers keep publishing main versions
    * unperturbed — and branch data files live under per-branch-nonce
    * commit directories, so the two streams never clobber each other's
    * bytes. Because a branch manifest is a full snapshot listing, every
    * branch version is time-travelable exactly like a main version.
    * Returns the fork version. */
  def createBranch(dir: String, name: String): Int = {
    val fork = currentVersion(dir)
    require(fork > 0, s"createBranch: no committed version under $dir")
    val md = branchMd(dir, name)
    if (Files.isDirectory(md))
      throw new CommitConflictException(s"branch '$name' already exists")
    Files.createDirectories(md)
    Files.write(md.resolve("FORK"), Seq(fork.toString).asJava)
    land(dir, Ref.Branch(name), fork, CommitPlan(Base.Lines(manifestFiles(dir, fork))))
  }

  def branchExists(dir: String, name: String): Boolean =
    Files.isDirectory(branchMd(dir, name))

  // ------------------------------------------------------------------ tags

  /** Snapshot TAGS — named, immutable pins on committed versions
    * (Iceberg's tag refs): `VERSION AS OF 'release_v1'` resolves through
    * the catalog, and [[expire]] keeps a tagged version's manifest and
    * files alive past any retention horizon until the tag is dropped.
    * Unlike a branch, a tag takes no commits and owns no data — it is
    * one line of metadata (`name|version`), so "pin the pre-migration
    * snapshot for the quarter" costs nothing at 100 TB.
    *
    * Mutations are SERIALIZED through the same link(2) CAS as manifest
    * claims (ADVICE r10): the tag set lives in numbered generation files
    * `_manifests/tags.g<N>` (highest N wins), and each create/drop claims
    * generation N+1 with create-no-overwrite — two concurrent tag
    * operations can never silently lose one (the old read-modify-write
    * over a single file could, after which [[expire]] might reclaim a
    * version the user believed retention-pinned). The legacy un-numbered
    * `tags` file reads as generation 0. */
  def tags(dir: String): Map[String, Int] = tagsIn(manifests(dir))

  /** Tags of a BRANCH namespace (r11, verdict handoff #9): same file
    * format, same CAS, living in `_manifests/branch-<name>/` — so an
    * experiment's mid-lineage versions can be pinned by name and read
    * via `.option("branch", b).option("branchVersion", "tag")`. Branch
    * manifests are never expire()d (only dropBranch reclaims them), so
    * a branch tag is a pure label — no retention machinery needed. */
  def branchTags(dir: String, branch: String): Map[String, Int] =
    tagsIn(mdOf(dir, Ref.Branch(branch)))

  private def tagsIn(md: Path): Map[String, Int] = {
    if (!Files.isDirectory(md)) return Map.empty
    // a generation picked from the listing may be GC'd by a concurrent
    // claim before the read lands — re-list and retry (the claimed MAX
    // is never deleted, so this converges)
    var tries = 0
    while (true) {
      try {
        return tagGens(md).lastOption match {
          case Some(g) =>
            parseTags(Files.readAllLines(md.resolve(s"tags.g$g")).asScala.toSeq)
          case None =>
            val p = md.resolve("tags")
            if (!Files.exists(p)) Map.empty
            else parseTags(Files.readAllLines(p).asScala.toSeq)
        }
      } catch {
        case e: java.nio.file.NoSuchFileException =>
          tries += 1
          if (tries > 8) throw e
      }
    }
    sys.error("unreachable")
  }

  private def parseTags(lines: Seq[String]): Map[String, Int] = {
    // a `#gc` marker is a reclaimed generation — semantically "no such
    // file": both read paths already converge on NoSuchFileException by
    // re-listing and finding the true (newer) max. Tag names may not
    // start with '#' (grammar, enforced at create), so no legit map
    // collides with the marker.
    if (lines.headOption.exists(_.startsWith("#gc")))
      throw new java.nio.file.NoSuchFileException("GC'd tag generation")
    lines.map(_.trim).filter(_.nonEmpty).map { l =>
      val i = l.lastIndexOf('|')
      require(i > 0, s"corrupt tags line: $l")
      l.substring(0, i) -> l.substring(i + 1).toInt
    }.toMap
  }

  private def tagGens(md: Path): Seq[Int] =
    Option(md.toFile.listFiles()).toSeq.flatten
      .map(_.getName).filter(_.matches("tags\\.g\\d+"))
      .map(_.stripPrefix("tags.g").toInt).sorted

  /** Read-validate-claim loop for tag mutations: read the CURRENT
    * generation's map, apply `f` (which validates against exactly that
    * snapshot), and claim the next generation via create-no-overwrite —
    * a loser re-reads and re-validates, so e.g. two concurrent
    * `createTag` calls for the same name end with exactly one winner and
    * one loud duplicate error. Generations older than the one consumed
    * are GC'd after a successful claim (the immediately-previous file
    * survives one round as a reader-race buffer). */
  private def mutateTags(dir: String, f: Map[String, Int] => Map[String, Int]): Unit =
    mutateTagsIn(manifests(dir), dir, f)

  private def mutateTagsIn(md: Path, dir: String,
                           f: Map[String, Int] => Map[String, Int]): Unit = {
    Files.createDirectories(md)
    var attempts = 0
    while (attempts < 64) {
      attempts += 1
      val gen = tagGens(md).lastOption.getOrElse(0)
      val cur =
        try {
          if (gen > 0) Some(
            parseTags(Files.readAllLines(md.resolve(s"tags.g$gen")).asScala.toSeq))
          else {
            val p = md.resolve("tags")
            Some(if (Files.exists(p)) parseTags(Files.readAllLines(p).asScala.toSeq)
                 else Map.empty[String, Int])
          }
        } catch {
          // the generation listed as MAX was GC'd by a concurrent winner
          // before our read landed — a newer one exists, loop to find it
          case _: java.nio.file.NoSuchFileException => None
        }
      cur.foreach { m =>
        val next = f(m)
        val tmp = md.resolve(
          s".tags.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
        Files.write(tmp,
          next.toSeq.sortBy(_._1).map { case (n, v) => s"$n|$v" }.asJava)
        val won =
          try { Files.createLink(md.resolve(s"tags.g${gen + 1}"), tmp); true }
          catch { case _: java.nio.file.FileAlreadyExistsException => false }
          finally Files.deleteIfExists(tmp)
        if (won) {
          // GC by MARKER OVERWRITE, never deletion (16-generation buffer
          // keeps recent maps readable for stragglers). A DELETED number
          // could be re-CLAIMED: a writer stalled across 17+ complete
          // mutations still holds the old listing, its createLink
          // SUCCEEDS on the vacated name, it believes it won — while
          // every reader takes max(gen) and silently skips the mutation
          // (ADVICE r11: for retention pins, exactly the lost update this
          // CAS exists to prevent). A `#gc` placeholder keeps
          // create-no-overwrite refusing FOREVER, so a stale claim gets
          // EEXIST, re-lists, and re-validates against the true head; a
          // stale READ of a marker is indistinguishable from the file
          // being gone ([[parseTags]] raises NoSuchFileException) and
          // retries the same way. (Re-list-after-win can't fix the claim
          // race: a legitimate successor may build on our claim between
          // link and re-list, and "higher gen exists" would then
          // double-apply the mutation.) The descending scan stops at the
          // first already-marked generation — markers form a suffix-free
          // prefix, so each file is written once ever (amortized O(1) per
          // mutation); growth is one 4-byte inode per tag mutation —
          // human-cadence retention ops.
          tagGens(md).filter(_ < gen - 16).sorted(Ordering[Int].reverse)
            .iterator.map(g => md.resolve(s"tags.g$g"))
            .takeWhile(p => !Files.exists(p) ||
              Files.size(p) == 0 || Files.readAllLines(p).asScala
                .headOption.forall(!_.startsWith("#gc")))
            .foreach { p =>
              // marker lands by ATOMIC RENAME, never in-place truncate:
              // Files.write opens TRUNCATE_EXISTING, and a straggler
              // reading inside the truncate-to-write window would see an
              // EMPTY file — which parseTags must accept as a legitimate
              // map (dropping the last tag writes zero lines), so the
              // straggler would take "no tags" as the answer instead of
              // the retry signal (ADVICE r12 low). rename(2) leaves
              // readers either the old full content or the marker.
              val tmp = md.resolve(
                s".gc.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
              Files.write(tmp, java.util.List.of("#gc"))
              Files.move(tmp, p,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
            }
          Files.deleteIfExists(md.resolve("tags")): Unit // legacy, superseded
          return
        }
      }
    }
    throw new CommitConflictException(
      s"tag mutation on $dir lost the CAS $attempts times — giving up")
  }

  /** Pin `version` (default: the current head) under `name`. Tags are
    * immutable — re-tagging an existing name refuses (drop it first). */
  def createTag(dir: String, name: String, version: Int = -1): Int = {
    require(name.nonEmpty && !name.contains('|') && !name.contains('\n') &&
      name.exists(!_.isDigit) && !name.startsWith("#"),
      s"createTag: illegal tag name '$name' (non-empty, no '|', no leading " +
        "'#' — the GC marker — and not all digits: it must never shadow a " +
        "numeric VERSION AS OF)")
    val v = if (version > 0) version else currentVersion(dir)
    require(v > 0, s"createTag: no committed version under $dir")
    require(Files.exists(manifests(dir).resolve(s"v$v.list")),
      s"createTag: version $v of $dir does not exist (or is expired)")
    mutateTags(dir, { m =>
      if (m.contains(name))
        throw new CommitConflictException(s"tag '$name' already exists")
      m + (name -> v)
    })
    v
  }

  /** Drop the tag; the next [[expire]] may then reclaim its version. */
  def dropTag(dir: String, name: String): Int = {
    var dropped = -1
    mutateTags(dir, { m =>
      require(m.contains(name), s"dropTag: no tag '$name' under $dir")
      dropped = m(name)
      m - name
    })
    dropped
  }

  /** Pin a BRANCH version under `name` — see [[branchTags]]. Same name
    * grammar and immutability contract as main-line [[createTag]]. */
  def createBranchTag(dir: String, branch: String, name: String,
                      version: Int = -1): Int = {
    require(name.nonEmpty && !name.contains('|') && !name.contains('\n') &&
      name.exists(!_.isDigit) && !name.startsWith("#"),
      s"createBranchTag: illegal tag name '$name' (non-empty, no '|', no " +
        "leading '#' — the GC marker — and not all digits: it must never " +
        "shadow a numeric branch version)")
    val md = mdOf(dir, Ref.Branch(branch))
    val v = if (version > 0) version else headVersion(dir, Ref.Branch(branch))
    require(Files.exists(md.resolve(s"v$v.list")),
      s"createBranchTag: version $v of branch '$branch' does not exist")
    mutateTagsIn(md, dir, { m =>
      if (m.contains(name))
        throw new CommitConflictException(
          s"tag '$name' already exists on branch '$branch'")
      m + (name -> v)
    })
    v
  }

  def dropBranchTag(dir: String, branch: String, name: String): Int = {
    val md = mdOf(dir, Ref.Branch(branch))
    var dropped = -1
    mutateTagsIn(md, dir, { m =>
      require(m.contains(name),
        s"dropBranchTag: no tag '$name' on branch '$branch' under $dir")
      dropped = m(name)
      m - name
    })
    dropped
  }

  /** Resolve a branch version REFERENCE — a numeric version or a branch
    * tag name — to its version number (the `branchVersion` reader
    * option's resolution). `forall(_.isDigit)` alone is true for the
    * empty string and for digit runs beyond Int range (raw
    * NumberFormatException); both now fall through to the tag lookup,
    * which raises the descriptive no-such-tag error. */
  def resolveBranchVersion(dir: String, branch: String, ref: String): Int =
    (if (ref.nonEmpty && ref.forall(_.isDigit)) ref.toIntOption else None)
      .getOrElse(branchTags(dir, branch).getOrElse(ref,
        sys.error(s"no tag '$ref' on branch '$branch' under $dir")))

  /** Every branch with its fork and head versions — the `.branches`
    * metadata table's row set. */
  def listBranches(dir: String): Seq[(String, Int, Int)] = {
    val md = manifests(dir)
    if (!Files.isDirectory(md)) return Seq.empty
    Option(md.toFile.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("branch-"))
      .map { b =>
        val name = b.getName.stripPrefix("branch-")
        val fork = Files.readAllLines(b.toPath.resolve("FORK")).get(0).trim.toInt
        (name, fork, versionsOnDisk(b.toPath).max)
      }.sortBy(_._1)
  }

  /** Head version of the branch (its fork version until the first branch
    * commit). */
  def branchVersion(dir: String, name: String): Int = headVersion(dir, Ref.Branch(name))

  /** Commit `df` onto the branch head — same protocol as [[commit]], in
    * the branch's namespace. The data directory `commit-<v>-<nonce>`
    * keeps sequence scoping correct both before AND after a fast-forward
    * (the branch's version numbers are pre-reserved to become main's),
    * so equality/position deletes inside a branch behave exactly as on
    * main. Returns the new branch head version. */
  def commitToBranch(df: DataFrame, dir: String, name: String,
                     append: Boolean = true): Int =
    commitDf(df, dir, Ref.Branch(name), CommitPlan(Base.of(append)))

  /** Snapshot read of a branch (head by default, any branch version via
    * `version`) — the WAP-for-many-commits read: audit an experiment's
    * whole lineage without it ever being visible on main. */
  def readBranch(spark: SparkSession, dir: String, name: String,
                 version: Int = -1): DataFrame =
    read(spark, dir, version, ref = Ref.Branch(name))

  /** Fast-forward main to the branch head by REPLAYING the branch's
    * manifests as main versions fork+1…head — pure metadata (zero data
    * bytes move; the branch pre-reserved those version numbers), every
    * intermediate branch commit stays time-travelable on main, and the
    * replay is guarded by the same link-CAS as every commit: if main
    * diverged past the fork (or a concurrent writer claims mid-replay),
    * the claim throws [[CommitConflictException]] — each already-claimed
    * version is itself a consistent snapshot, so an aborted replay never
    * leaves a torn table. Returns main's new head. */
  def fastForward(dir: String, name: String): Int = {
    val ref = Ref.Branch(name)
    val fork = Files.readAllLines(mdOf(dir, ref).resolve("FORK")).get(0).trim.toInt
    val head = headVersion(dir, ref)
    require(head > fork, s"fastForward: branch '$name' has no commits past its fork v$fork")
    val cur = currentVersion(dir)
    if (cur != fork)
      throw new CommitConflictException(
        s"fastForward: main moved to v$cur past the fork v$fork — " +
          "rebase by re-branching from current and replaying")
    (fork + 1 to head).foreach { v =>
      land(dir, Ref.Main, v, CommitPlan(Base.Lines(manifestFiles(dir, v, ref))))
    }
    head
  }

  /** Cherry-pick ONE branch commit onto main's CURRENT head (Iceberg's
    * `cherrypick_snapshot`): the selective-publish verb for exactly the
    * case [[fastForward]] refuses — main moved past the fork, or only
    * SOME of the branch's commits should ship. Only pure APPEND commits
    * qualify (the delta must be data lines appended to the parent's
    * manifest; row-level / delete / overwrite commits are order-dependent
    * — replaying them against a different base changes answers — so they
    * refuse loudly, the same restriction Iceberg imposes).
    *
    * Zero data bytes are COPIED: each delta file is hard-LINKED into
    * main's next commit directory. The link serves two purposes at once —
    * it reuses the physical bytes (same inode, O(files) metadata ops),
    * and it RE-SEQUENCES the rows: a manifest entry's sequence number is
    * parsed from its `commit-N` path segment, and an equality delete
    * already on main (sequence ≤ head) must not scope rows that land
    * AFTER it. Re-publishing the branch paths verbatim would smuggle the
    * branch's (stale, lower) sequence onto main and silently erase the
    * picked rows under any later delete. Stats/bloom segments carry
    * VERBATIM with the path swapped — no footer re-reads. The claim is
    * the same link-CAS as every commit; on a lost race the created links
    * are removed before rethrowing (nothing referenced them yet).
    * Returns main's new head. */
  def cherryPick(dir: String, name: String, v: Int): Int = {
    val md = mdOf(dir, Ref.Branch(name))
    val vs = versionsOnDisk(md).toSet
    require(vs.contains(v) && vs.contains(v - 1),
      s"cherryPick: branch '$name' has no commit v$v (or no parent v${v - 1})")
    val prev = linesIn(md, v - 1)
    val cur = linesIn(md, v)
    if (!(cur.size > prev.size && cur.take(prev.size) == prev))
      throw new CommitConflictException(
        s"cherryPick: branch commit v$v is not a pure append — only append " +
          "commits can re-land on a moved main (row-level/overwrite commits " +
          "are order-dependent; use fastForward from an un-moved fork)")
    val delta = cur.drop(prev.size)
    delta.find(l => !parseEntry(l).isData).foreach { l =>
      throw new CommitConflictException(
        s"cherryPick: branch commit v$v carries a delete entry ($l) — " +
          "only append commits can be cherry-picked")
    }
    val target = currentVersion(dir) + 1
    require(target > 1, s"cherryPick: no committed version under $dir")
    // nonce'd commit dir (the appendOptimistic convention): a contending
    // plain writer overwrite-stages into `commit-$target` and would nuke
    // our links before either CAS lands — a suffixed dir is ours alone,
    // and SeqRe parses the sequence through the suffix
    val id = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val dataDir = Paths.get(s"$dir/data/commit-$target-$id")
    Files.createDirectories(dataDir)
    val linked = scala.collection.mutable.ArrayBuffer.empty[Path]
    try {
      val relined = delta.map { l =>
        val e = parseEntry(l)
        val src = Paths.get(e.path)
        val dst = dataDir.resolve(src.getFileName.toString)
        Files.createLink(dst, src)
        linked += dst
        if (l.startsWith("F|")) {
          val parts = l.split('|'); parts(1) = dst.toString; parts.mkString("|")
        } else dst.toString
      }.sorted
      land(dir, Ref.Main, target,
        CommitPlan(Base.Lines(manifestFiles(dir, target - 1) ++ relined)))
    } catch {
      case e: Throwable =>
        linked.foreach(Files.deleteIfExists(_))
        Files.deleteIfExists(dataDir)
        throw e
    }
  }

  /** Zero-copy CLONE: create a NEW table at `dst` whose v1 is `src`'s
    * current snapshot, with every data and equality-delete file
    * HARD-LINKED under the clone's own roots. Unlike a path-referencing
    * shallow clone (Delta's SHALLOW CLONE), the linked inodes keep the
    * bytes alive no matter what the source later does — compact, expire,
    * vacuum, even dropBranch — so the clone can never dangle, while
    * still copying ZERO data bytes: a 100 TB dev copy is O(files)
    * link(2) calls plus one manifest claim.
    *
    * Sequence structure is PRESERVED: each file links into
    * `commit-<its own seq>-<clone nonce>`, so equality-delete scoping
    * (delete applies to strictly-earlier data) survives verbatim. The
    * one physical rewrite is POSITION-delete files: their rows reference
    * source data paths by STRING, which the clone's scan will never
    * yield — all of them are re-pointed through the src→dst link map and
    * merged into ONE clone-owned delete file (position deletes carry no
    * sequence scoping, so the global union is semantics-preserving — the
    * q395 rewrite_deletes argument). That costs O(|pos-delete rows|) IO,
    * which compaction keeps tiny. Catalog sidecars copy byte-for-byte:
    * schema (+ rename map, drop tombstones), constraints, write-layout
    * declarations (key/order/size/bucket), and the declared partition
    * spec (`_manifests/ptn`). Bloom/NDV sidecars are NOT carried (absent
    * planning stats degrade to conservative scans — rebuildable by
    * maintenance); tags and branches stay with the source. The clone's
    * single manifest claims version = the max cloned SEQUENCE (so its
    * own next commit sequences past every cloned delete), and it commits
    * independently from there on. Returns the clone's head version. */
  def cloneTable(spark: SparkSession, src: String, dst: String): Int = {
    val v = currentVersion(src)
    require(v > 0, s"cloneTable: no committed version under $src")
    require(currentVersion(dst) == 0,
      s"cloneTable: target $dst already has commits")
    val id = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val entries = manifestFiles(src, v)
    def linkInto(e: Entry): Path = {
      val srcP = Paths.get(e.path)
      val dDir = Paths.get(s"$dst/data/commit-${e.seq}-$id")
      Files.createDirectories(dDir)
      val dstP = dDir.resolve(srcP.getFileName.toString)
      Files.createLink(dstP, srcP)
      dstP
    }
    val parsed = entries.map(l => l -> parseEntry(l))
    // pass 1: data + equality-delete files link; build the path map the
    // position-delete rewrite needs
    val pathMap = scala.collection.mutable.Map.empty[String, String]
    val relined = parsed.flatMap {
      case (l, e) if e.isData =>
        val dstP = linkInto(e)
        pathMap(e.path) = dstP.toString
        Some(if (l.startsWith("F|")) {
          val parts = l.split('|'); parts(1) = dstP.toString; parts.mkString("|")
        } else dstP.toString)
      case (l, e) if e.deleteKey.isDefined =>
        val dstP = linkInto(e)
        val parts = l.split('|'); parts(2) = dstP.toString
        Some(parts.mkString("|"))
      case _ => None // P| handled below
    }
    // pass 2: position deletes re-point at the linked paths and merge
    // into one clone-owned file (unscoped — global union preserves MoR)
    val posPaths = parsed.collect { case (_, e) if e.posDelete => e.path }
    val posLine: Seq[String] =
      if (posPaths.isEmpty) Seq.empty
      else {
        import org.apache.spark.sql.functions.{broadcast, col, concat, lit,
          regexp_replace}
        import spark.implicits._
        // delete rows carry the scan's `file:` + raw form; normalize the
        // key to the manifest's raw path, emit the value back in scan
        // form so the clone's own MoR compare matches. The src→dst map
        // rides as a BROADCAST JOIN frame, not a typedLit map literal: a
        // 100 TB snapshot's manifest lists millions of files, and a map
        // literal that size serializes into every task's expression tree
        // (blowing the codegen method limit long before that) — the join
        // keeps it one broadcast variable of path pairs. Inner join ≡
        // the old isNotNull filter (refs outside the map drop).
        val pathDf = broadcast(pathMap.toSeq.toDF("_raw_src", "_raw_dst"))
        val mapped = spark.read.parquet(posPaths: _*)
          .withColumn("_raw_src",
            regexp_replace(col("file_path"), "^file:/+", "/"))
          .join(pathDf, Seq("_raw_src"))
          .select(concat(lit("file:"), col("_raw_dst")).as("file_path"),
            col("pos"))
        // rows merge VERBATIM (no distinct) — the q395 decision: countStar
        // subtracts delete-file __rows, so preserving any (foreign-written)
        // duplicate positions keeps the clone's zero-IO count ≡ source's
        val id2 = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
        nonEmptyFiles(stage(mapped.coalesce(1), s"$dst/data/commit-1-$id2"))
          .map(posDeleteLine)
      }
    // catalog-level sidecars travel: schema (+ rename map, drop
    // tombstones), constraints, and the write-layout declarations
    // (key/order/size/bucket — without them a cloned keyed or bucketed
    // table would silently lose its mutation contract and SPJ layout)
    Seq("_schema.ddl", "_schema.json", "_schema.names", "_schema.drop",
        "_constraints", "_write.key", "_write.order", "_write.size",
        "_partition.bucket").foreach { n =>
      val sp = Paths.get(src, n)
      if (Files.exists(sp))
        Files.copy(sp, Paths.get(dst, n),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }
    // the declared partition spec lives NEXT TO the manifests — a
    // hidden-partitioned clone without it would stop pruning and refuse
    // partitioned commits
    val ptn = manifests(Paths.get(src).toString).resolve("ptn")
    if (Files.exists(ptn)) {
      Files.createDirectories(manifests(dst))
      Files.copy(ptn, manifests(dst).resolve("ptn"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }
    // the clone's FIRST manifest claims version = max cloned sequence
    // (not 1): version numbers drive future commit dirs, which drive
    // entry SEQUENCES — claiming v1 would hand the clone's next commit
    // seq 2, BELOW the cloned equality deletes, which would then
    // (wrongly) scope brand-new rows. Found by the q401 gate: an
    // appended batch lost its k%5=0 rows to a delete that pre-dated it.
    val headV = math.max(1, parsed.map(_._2.seq).foldLeft(0)(math.max))
    val claimed = land(dst, Ref.Main, headV, CommitPlan(Base.Lines(relined ++ posLine)))
    // origin marker: which source and source VERSION this clone mirrors,
    // and the clone head that state corresponds to — [[syncCloneTracked]]
    // uses it to make the replica contract self-enforcing
    Files.write(Paths.get(dst, "_clone.origin"),
      Seq(src, v.toString, claimed.toString).asJava)
    claimed
  }

  /** [[syncClone]] with the replica contract ENFORCED: reads the clone's
    * `_clone.origin` marker (written by [[cloneTable]] and updated here),
    * refuses loudly if the clone took ANY commit the marker doesn't
    * account for — a diverged clone is a fork, and replaying source
    * history into a fork silently interleaves two histories — then
    * replays and advances the marker. The production shape: a nightly
    * `syncCloneTracked(dst)` needs no bookkeeping in the scheduler; the
    * clone carries its own sync state. */
  def syncCloneTracked(spark: SparkSession, dst: String, keyCol: String): Int = {
    val marker = Paths.get(dst, "_clone.origin")
    require(Files.exists(marker),
      s"syncCloneTracked: $dst carries no _clone.origin marker — not a tracked clone")
    val lines = Files.readAllLines(marker).asScala
    require(lines.size >= 3, s"syncCloneTracked: corrupt marker under $dst")
    val (src, srcV, dstHead) = (lines(0), lines(1).trim.toInt, lines(2).trim.toInt)
    val cur = currentVersion(dst)
    if (cur != dstHead)
      throw new CommitConflictException(
        s"syncCloneTracked: clone diverged — head v$cur but the marker " +
          s"expects v$dstHead (foreign commits since the last sync); a " +
          "diverged clone is a fork: re-clone, or sync explicitly with " +
          "syncClone if you accept interleaved histories")
    // resolve the source head ONCE, replay to exactly it, and record
    // exactly it — re-reading currentVersion(src) after the replay races
    // a concurrent source commit into the marker as "synced" without
    // ever replaying it, silently diverging the replica forever (ADVICE
    // r12 medium: the precise lost update this wrapper exists to prevent)
    val srcHead = currentVersion(src)
    val newHead = syncClone(spark, src, dst, srcV, keyCol, toVersion = srcHead)
    Files.write(marker,
      Seq(src, srcHead.toString, newHead.toString).asJava)
    newHead
  }

  /** Catch a CLONE up with its source: replay the source's commits
    * (fromVersion, head] onto the clone through the change feed — ONE
    * clone commit per source version, in version order, delete events
    * before insert events within a version (the keyed-merge commit shape
    * carries both, and its new rows must survive its own deletes). Each
    * version's feed is the O(delta) manifest diff, so a nightly re-sync
    * of a 100 TB clone moves only the day's rows; compaction markers in
    * range contribute zero events by the feed's contract (content
    * unchanged — the clone correctly skips them), and an overwrite in
    * range inherits [[changeFeed]]'s loud refusal (re-clone instead).
    * The CALLER owns two contracts: `fromVersion` is the source version
    * the clone last synced to, and the clone has not diverged since —
    * a diverged clone is a fork, not a replica, and re-syncing one
    * silently interleaves histories. `keyCol` names the clone-side
    * equality-delete key for replayed delete events. Returns the clone's
    * new head version. */
  def syncClone(spark: SparkSession, src: String, dst: String,
                fromVersion: Int, keyCol: String, toVersion: Int = -1): Int = {
    import org.apache.spark.sql.functions.col
    // `toVersion` lets a tracking caller pin the replay's upper bound to
    // a head IT resolved — the marker it writes then records exactly
    // what was replayed, not whatever the source grew to meanwhile
    val to = if (toVersion > 0) toVersion else currentVersion(src)
    require(to <= currentVersion(src),
      s"syncClone: toVersion $to beyond source head ${currentVersion(src)}")
    require(fromVersion >= 1 && fromVersion <= to,
      s"syncClone: fromVersion $fromVersion not in [1, $to]")
    (fromVersion + 1 to to).foreach { v =>
      val feed = changeFeed(spark, src, v - 1, v)
      if (!feed.isEmpty) {
        val dels = feed.filter(col("_change_type") === "delete")
          .select(delKeyCols(keyCol).map(col): _*).distinct()
        if (!dels.isEmpty) delete(dels, dst, keyCol): Unit
        val ins = feed.filter(col("_change_type") === "insert")
          .drop("_change_type")
        if (!ins.isEmpty) commit(ins, dst, append = true): Unit
      }
    }
    currentVersion(dst)
  }

  /** Delete an abandoned branch: reclaims data files that ONLY the branch
    * references (never anything any main manifest lists — live or
    * historical, so main's time travel is untouched), then removes the
    * branch namespace. Returns the number of files reclaimed. */
  def dropBranch(dir: String, name: String): Int = {
    val md = mdOf(dir, Ref.Branch(name))
    // survivors = main refs + every OTHER branch's refs: once a shared
    // fork version has been expired from main, a sibling branch can be
    // the only remaining reference to the fork snapshot's files —
    // subtracting main alone would delete data under that sibling.
    val mainFiles = versionsOnDisk(manifests(dir))
      .flatMap(manifestFiles(dir, _)).map(pathOf).toSet ++
      allBranchEntries(dir, except = Set(name)).map(_.path)
    val branchOnly = versionsOnDisk(md).flatMap(linesIn(md, _)).map(pathOf).toSet -- mainFiles
    branchOnly.foreach(f => Files.deleteIfExists(Paths.get(f)))
    Option(md.toFile.listFiles()).toSeq.flatten.foreach(f => Files.delete(f.toPath))
    Files.delete(md)
    branchOnly.size
  }

  /** VACUUM: reclaim every file under the table's data/staging roots that
    * NO manifest references — main versions, branch versions, live or
    * historical — and that is older than `graceMs`. Orphans accumulate
    * from real failure modes the commit protocol deliberately leaves
    * behind rather than risk a blocking cleanup: a writer that staged
    * bytes and died before publish, an optimistic writer's lost-CAS
    * directory whose process crashed mid-retry, an aborted DSv2 job whose
    * driver never ran abort(). Readers never list directories (manifests
    * are the source of truth), so orphans cost only storage — but at
    * 100 TB "only storage" is real money, and this is the Delta/Iceberg
    * VACUUM contract: referenced-set subtraction, with a grace window so
    * an IN-FLIGHT writer's staged-but-unpublished bytes are never swept
    * (its claim would otherwise publish dangling paths). Time travel is
    * untouched by construction — every historical manifest's files are in
    * the referenced set; use [[expire]] first to shrink that set.
    * Returns (files reclaimed, bytes reclaimed). */
  def vacuum(dir: String, graceMs: Long = 24L * 3600 * 1000): (Int, Long) = {
    val md = manifests(dir)
    if (!Files.isDirectory(md)) return (0, 0L)
    val mainRefs = versionsOnDisk(md).flatMap(manifestFiles(dir, _)).map(pathOf)
    val refd = (mainRefs ++ allBranchEntries(dir).map(_.path))
      .map(p => Paths.get(p).toAbsolutePath.normalize.toString).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    var n = 0
    var bytes = 0L
    def sweep(f: java.io.File): Unit =
      if (f.isDirectory) {
        Option(f.listFiles()).toSeq.flatten.foreach(sweep)
        if (Option(f.listFiles()).exists(_.isEmpty)) f.delete(): Unit
      } else if (!refd.contains(f.toPath.toAbsolutePath.normalize.toString) &&
                 f.lastModified() < cutoff) {
        bytes += f.length()
        if (f.delete()) n += 1
      }
    Seq("data", "staging", "_staging")
      .map(r => new java.io.File(dir, r)).filter(_.isDirectory)
      .foreach(sweep)
    (n, bytes)
  }

  /** Every manifest entry of every branch except those in `except` —
    * the branch side of the table's referenced set. Both [[expire]] and
    * [[dropBranch]] must treat these as live: a branch forked before an
    * overwrite can be the ONLY remaining reference to the fork
    * snapshot's data files (and, via entry seqs, to their stat
    * sidecars). */
  private def allBranchEntries(dir: String,
                               except: Set[String] = Set.empty): Seq[Entry] = {
    val md = manifests(dir)
    if (!Files.isDirectory(md)) return Seq.empty
    Option(md.toFile.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("branch-") &&
        !except.contains(f.getName.stripPrefix("branch-")))
      .flatMap(b => versionsOnDisk(b.toPath).flatMap(linesIn(b.toPath, _)).map(parseEntry))
  }

  /** AGE-based retention (Iceberg's `expire_snapshots(older_than)`): keep
    * every version published at-or-after `cutoffMs` — plus the current
    * head unconditionally — and expire the rest through [[expire]]'s
    * machinery (tag pins, branch references, append-chain liveness, stat
    * sidecars all honored). Publish instants come from the durable
    * `v<N>.ts` sidecars (mtime fallback), so the policy survives table
    * copies. The production retention loop is a cron with a wall-clock
    * horizon, not a version count — this is its verb. */
  def expireBefore(dir: String, cutoffMs: Long): (Int, Int) = {
    val ts = versionTimestamps(dir)
    require(ts.nonEmpty, s"expireBefore: no committed version under $dir")
    val keep = math.max(1, ts.count(_._2 >= cutoffMs))
    expire(dir, keep)
  }

  /** Snapshot expiry: drop every manifest older than the newest `keep`
    * versions, then delete data files no SURVIVING manifest references
    * (append-chain files shared with a live version are kept — liveness is
    * a property of the file set union, not of which commit wrote the
    * file). Returns (versions removed, orphan files deleted). Time travel
    * to an expired version fails loudly on the missing manifest. */
  def expire(dir: String, keep: Int): (Int, Int) = {
    require(keep >= 1, "expire: must keep at least the current version")
    val cutoff = currentVersion(dir) - keep + 1
    val md = manifests(dir)
    // TAGGED versions are retention-pinned: their manifests stay on disk
    // (so the live-file and live-seq sets below keep their data files
    // and stat sidecars), whatever the horizon — until dropTag
    val tagged = tags(dir).values.toSet
    val (dead, live) = versionsOnDisk(md)
      .partition(v => v < cutoff && !tagged.contains(v))
    val branchEntries = allBranchEntries(dir)
    val liveFiles = live.flatMap(manifestFiles(dir, _)).map(pathOf).toSet ++
      branchEntries.map(_.path)
    val orphans = dead.flatMap(manifestFiles(dir, _)).map(pathOf).toSet -- liveFiles
    orphans.foreach(f => Files.deleteIfExists(Paths.get(f)))
    // stat sidecars (vN.ndv / vN.hist) are keyed by COMMIT, and surviving
    // append-chain manifests still resolve them by entry seq — a sidecar
    // lives exactly as long as SOME surviving manifest references its
    // commit's files (same liveness rule as the data files). Sweep ALL
    // sidecar files on disk, not just this call's dead versions: a
    // sidecar can outlive its own manifest across several expires while
    // referenced, and must still be reclaimed once the last reference
    // goes.
    val liveSeqs =
      live.flatMap(v => manifestFiles(dir, v).map(parseEntry).map(_.seq)).toSet ++
        branchEntries.map(_.seq)
    val SidecarRe = raw"v(\d+)\.(ndv|hist|src|bloom)".r
    Option(md.toFile.listFiles()).toSeq.flatten.foreach { f =>
      f.getName match {
        case SidecarRe(sq, kind) if !liveSeqs.contains(sq.toInt) =>
          // a .src sidecar is a streaming epoch's idempotence record —
          // roll it up into the durable ledger BEFORE reclaiming it, or a
          // post-expire replay of that epoch would double-append
          if (kind == "src")
            recordStreamEpochs(dir, Files.readAllLines(f.toPath).asScala.toSeq)
          Files.deleteIfExists(f.toPath): Unit
        case _ =>
      }
    }
    dead.foreach { v =>
      Files.delete(md.resolve(s"v$v.list"))
      // rewrite markers and publish instants are keyed by VERSION, not
      // commit seq — they die with their manifest (no surviving manifest
      // can name version v)
      Files.deleteIfExists(md.resolve(s"v$v.rw")): Unit
      Files.deleteIfExists(md.resolve(s"v$v.ts")): Unit
    }
    (dead.size, orphans.size)
  }
}
