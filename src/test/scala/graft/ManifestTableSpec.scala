package graft

import org.apache.spark.sql.functions._
import graft.sources.ManifestTable

/** The versioned-table contracts q270 relies on: manifest-scoped reads,
  * append composition, overwrite isolation, and time travel. */
class ManifestTableSpec extends SparkSpec {

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_manifest_spec")
    d.toFile.deleteOnExit()
    d.toString + "/tbl"
  }

  test("append commits compose; overwrite starts a new file set; time travel reads history") {
    import spark.implicits._
    val dir = freshDir()
    assert(ManifestTable.currentVersion(dir) == 0)

    val v1 = ManifestTable.commit((1L to 10L).toDF("k"), dir, append = false)
    val v2 = ManifestTable.commit((11L to 15L).toDF("k"), dir, append = true)
    val v3 = ManifestTable.commit((100L to 101L).toDF("k"), dir, append = false)
    assert((v1, v2, v3) == (1, 2, 3))
    assert(ManifestTable.currentVersion(dir) == 3)

    assert(ManifestTable.read(spark, dir, 1).count() == 10)
    assert(ManifestTable.read(spark, dir, 2).count() == 15) // v1 files ∪ delta
    assert(ManifestTable.read(spark, dir, 3).count() == 2)  // overwrite
    assert(ManifestTable.read(spark, dir).count() == 2)     // latest = v3
    // the v2 snapshot is the exact union, not a re-read of live state
    assert(ManifestTable.read(spark, dir, 2).agg(sum($"k")).head.getLong(0)
      == (1L to 15L).sum)
  }

  test("WAP-published files inherit the publishing commit's sequence — an earlier delete can't erase them") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.commit((1L to 10L).toDF("k"), dir, append = false)
    // v2: equality-delete key 5 — sequence-scoped to data committed BEFORE v2
    ManifestTable.delete(Seq(5L).toDF("k"), dir, "k")
    assert(ManifestTable.read(spark, dir).count() == 9)
    // v3: WAP commit RE-APPENDS key 5 (plus 99). Before the r9 fix the
    // published files kept their staging/wap-… paths, parsed as seq 0,
    // and the v2 delete erased the re-appended 5 on read.
    val (v3, bad) = ManifestTable.wapCommit(Seq(5L, 99L).toDF("k"), dir,
      append = true, checks = Seq(graft.operators.Quality.NotNull("k_null", "k")))
    assert(v3 == 3 && bad == 0L)
    val now = ManifestTable.read(spark, dir).select($"k").as[Long].collect().sorted
    assert(now.contains(5L) && now.contains(99L) && now.length == 11,
      s"WAP-published rows must survive earlier deletes, got ${now.mkString(",")}")
    // and the files physically live under the commit path (seq = 3)
    assert(ManifestTable.read(spark, dir, 3).inputFiles
      .exists(_.contains("commit-3")))
    // a failed audit still aborts without a trace
    val before = ManifestTable.currentVersion(dir)
    val (vBad, nBad) = ManifestTable.wapCommit(
      Seq[java.lang.Long](null).toDF("k"), dir, append = true,
      checks = Seq(graft.operators.Quality.NotNull("k_null", "k")))
    assert(vBad == -1 && nBad == 1L && ManifestTable.currentVersion(dir) == before)
  }

  test("MERGE INTO: one commit replaces matched keys and inserts new ones; time travel and compaction hold") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.commit((1L to 10L).map(k => (k, k * 10)).toDF("k", "v"),
      dir, append = false)
    val v2 = ManifestTable.merge(
      Seq((3L, 999L), (5L, 999L), (42L, 777L)).toDF("k", "v"), dir, "k")
    assert(v2 == 2)
    val now = ManifestTable.read(spark, dir).as[(Long, Long)].collect().toMap
    assert(now.size == 11 && now(3L) == 999L && now(5L) == 999L &&
      now(42L) == 777L && now(4L) == 40L)
    // merge-on-read: v1's data files are untouched, v2 only ADDS files
    val v1Files = ManifestTable.read(spark, dir, 1).inputFiles.toSet
    val v2Files = ManifestTable.read(spark, dir, 2).inputFiles.toSet
    assert(v1Files.subsetOf(v2Files) &&
      (v2Files -- v1Files).forall(_.contains("commit-2")))
    // time travel: pre-merge snapshot intact
    assert(ManifestTable.read(spark, dir, 1).as[(Long, Long)]
      .collect().toMap == (1L to 10L).map(k => k -> k * 10).toMap)
    // change feed: matched keys emit delete(old)+insert(new); new keys insert-only
    val feed = ManifestTable.changeFeed(spark, dir, 1, 2)
    val dels = feed.filter($"_change_type" === "delete")
      .as[(Long, Long, String)].collect().map(r => (r._1, r._2)).sorted.toSeq
    assert(dels == Seq((3L, 30L), (5L, 50L)), s"delete events: $dels")
    assert(feed.filter($"_change_type" === "insert").count() == 3)
    // a second merge on an already-merged key replaces the MERGED value
    ManifestTable.merge(Seq((3L, 1L)).toDF("k", "v"), dir, "k")
    assert(ManifestTable.read(spark, dir).as[(Long, Long)].collect().toMap
      .apply(3L) == 1L)
    // compaction materializes the merge and purges delete entries
    val v4 = ManifestTable.compact(spark, dir, numFiles = 1)
    assert(ManifestTable.read(spark, dir, v4).as[(Long, Long)].collect().toMap
      == now.updated(3L, 1L))
    assert(ManifestTable.filesTable(spark, dir, v4)
      .filter($"kind" =!= "data").count() == 0)
  }

  test("hidden partitioning: source-column predicates prune through declared days/bucket transforms") {
    import spark.implicits._
    import ManifestTable.{BucketTransform, DaysTransform}
    val dir = freshDir()
    val spec = Seq(BucketTransform(8, "k"), DaysTransform("d"))
    def rows(lo: Long, hi: Long) = (lo to hi).toDF("k")
      .withColumn("d", expr("date_add(date '2024-01-01', cast(k % 200 as int))"))
      .withColumn("v", $"k" * 10)
    ManifestTable.commitPartitioned(rows(1, 2000), dir, append = false, spec, numFiles = 16)
    ManifestTable.commitPartitioned(rows(2001, 4000), dir, append = true, spec, numFiles = 16)
    // spec is write-once: a different spec fails loudly
    intercept[IllegalArgumentException] {
      ManifestTable.commitPartitioned(rows(1, 5), dir, append = true,
        Seq(DaysTransform("d")), numFiles = 1)
    }
    // hidden columns never surface
    assert(!ManifestTable.read(spark, dir).columns.exists(_.startsWith("_ptn_")))
    // bucket point prune: named by SOURCE column, pruned via the transform
    val (keptB, total) = ManifestTable.sourceBucketPruneInfo(dir, "k", "777")
    assert(total == 32 && keptB < total, s"bucket prune kept $keptB/$total")
    val hit = ManifestTable.readSourceBucket(spark, dir, "k", "777")
      .filter($"k" === 777L).select($"v").as[Long].collect()
    assert(hit.toSeq == Seq(7770L))
    // days range prune: epoch-day window maps through the transform
    val lo = java.time.LocalDate.of(2024, 2, 1).toEpochDay
    val hi = java.time.LocalDate.of(2024, 2, 15).toEpochDay
    val (keptD, _) = ManifestTable.sourceDaysPruneInfo(dir, "d", lo, hi)
    assert(keptD < total, s"days prune kept $keptD/$total")
    val got = ManifestTable.readSourceDays(spark, dir, "d", lo, hi)
      .filter($"d" >= lit("2024-02-01").cast("date") &&
        $"d" <= lit("2024-02-15").cast("date")).count()
    val want = rows(1, 4000).filter($"d" >= lit("2024-02-01").cast("date") &&
      $"d" <= lit("2024-02-15").cast("date")).count()
    assert(got == want, s"pruned read must be a lossless superset: $got != $want")
    // undeclared source fails loudly instead of silently full-scanning
    intercept[IllegalArgumentException](
      ManifestTable.sourceDaysPruneInfo(dir, "nope", lo, hi))
  }

  test("change feed: a row erased by a position delete is not re-emitted by a later equality delete") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.commit((1L to 6L).toDF("k"), dir, append = false)
    ManifestTable.deleteWhere(spark, dir, col("k") === 3L) // v2: pos-delete k=3
    ManifestTable.delete(Seq(3L, 4L).toDF("k"), dir, "k")  // v3: eq-delete {3,4}
    val feed = ManifestTable.changeFeed(spark, dir, 1, 3)
    val dels = feed.filter($"_change_type" === "delete")
      .select($"k").as[Long].collect().sorted.toSeq
    // exactly one event per actual erasure: k=3 by the v2 position delete,
    // k=4 by the v3 equality delete — the v3 delete must NOT re-emit k=3
    // (it was no longer visible at seq 3)
    assert(dels == Seq(3L, 4L),
      s"expected one delete event each for 3 (pos) and 4 (eq), got $dels")
  }

  test("compact rewrites the snapshot without changing content; expiry respects append-chain liveness") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.commit((1L to 10L).toDF("k").repartition(4), dir, append = false)
    ManifestTable.commit((11L to 20L).toDF("k").repartition(4), dir, append = true)
    ManifestTable.commit((21L to 30L).toDF("k").repartition(4), dir, append = true)
    assert(ManifestTable.fileCount(dir, 3) == 12)

    val v4 = ManifestTable.compact(spark, dir, numFiles = 2)
    assert(v4 == 4 && ManifestTable.fileCount(dir, 4) == 2)
    assert(ManifestTable.read(spark, dir, 4).agg(sum($"k")).head.getLong(0)
      == (1L to 30L).sum)
    // pre-compaction snapshot still readable (immutable files)
    assert(ManifestTable.read(spark, dir, 3).count() == 30)

    // keep=2: v1/v2 manifests drop, but v3 still references every chain
    // file — zero orphans may be deleted
    assert(ManifestTable.expire(dir, keep = 2) == (2, 0))
    assert(ManifestTable.read(spark, dir, 3).count() == 30)
    // keep=1: only compacted v4 survives; all 12 chain files reclaimed
    assert(ManifestTable.expire(dir, keep = 1) == (1, 12))
    assert(ManifestTable.read(spark, dir).agg(sum($"k")).head.getLong(0)
      == (1L to 30L).sum)
    intercept[Exception](ManifestTable.read(spark, dir, 3).count())
  }

  test("bloom sidecars skip files on point lookups, never losing a row; legacy lines scan conservatively") {
    import spark.implicits._
    val dir = freshDir()
    // 8 files, keys hash-sharded so min/max stats can't prune k = ?
    ManifestTable.commitWithBloom((1L to 4000L).toDF("k").repartition(8),
      dir, append = false, Seq("k"), bits = 16384)
    val (keptHit, total) = ManifestTable.pointPruneInfo(dir, "k", "2024")
    assert(total == 8)
    assert(keptHit < 8, s"bloom kept all $keptHit/8 files for a present key")
    // the pruned read still finds the row — no false negatives
    assert(ManifestTable.readPoint(spark, dir, "k", "2024")
      .filter($"k" === 2024L).count() == 1)
    // a key that was never written prunes to ~0 files (fpp-bounded)
    val (keptMiss, _) = ManifestTable.pointPruneInfo(dir, "k", "999999")
    assert(keptMiss <= 2, s"absent key kept $keptMiss files")
    // a column with no bloom scans everything (conservative)
    assert(ManifestTable.pointPruneInfo(dir, "nope", "1") == (8, 8))
    // append WITHOUT blooms: new files scan conservatively, old skip
    ManifestTable.commit((10001L to 10500L).toDF("k").repartition(2), dir, append = true)
    val (kept2, total2) = ManifestTable.pointPruneInfo(dir, "k", "999999")
    assert(total2 == 10 && kept2 >= 2 && kept2 <= 4,
      s"expected ~2 conservative + fpp files, got $kept2/$total2")
    assert(ManifestTable.readPoint(spark, dir, "k", "10100")
      .filter($"k" === 10100L).count() == 1)
    // r9: bloom words live in a per-commit sidecar, NOT in manifest lines —
    // lines stay O(path+stats) however many blooms the table accrues
    val md = java.nio.file.Paths.get(dir, "_manifests")
    assert(java.nio.file.Files.exists(md.resolve("v1.bloom")),
      "commitWithBloom must write a v1.bloom sidecar")
    val lines = java.nio.file.Files.readAllLines(md.resolve("v2.list"))
    lines.forEach(l => assert(!l.matches(""".*\|[A-Za-z_]\w*:[0-9a-f]{32,}"""),
      s"manifest line carries inline bloom words: $l"))
  }

  test("bloom sidecars live exactly as long as a surviving manifest references their commit") {
    import spark.implicits._
    val dir = freshDir()
    val md = java.nio.file.Paths.get(dir, "_manifests")
    ManifestTable.commitWithBloom((1L to 2000L).toDF("k").repartition(4),
      dir, append = false, Seq("k"))
    ManifestTable.commit((9001L to 9100L).toDF("k").repartition(2), dir, append = true)
    // expire v1's manifest; v2 still references commit-1's files via the
    // append chain → the sidecar must SURVIVE and the point prune still skip
    ManifestTable.expire(dir, keep = 1)
    assert(java.nio.file.Files.exists(md.resolve("v1.bloom")),
      "sidecar reclaimed while a surviving manifest references its commit")
    val (kept, total) = ManifestTable.pointPruneInfo(dir, "k", "777777")
    assert(total == 6 && kept <= 3, s"expected skip to survive expire, got $kept/$total")
    assert(ManifestTable.readPoint(spark, dir, "k", "1500")
      .filter($"k" === 1500L).count() == 1)
    // overwrite drops commit-1 from the live set → next expire reclaims it
    ManifestTable.commit(Seq(5L).toDF("k"), dir, append = false)
    ManifestTable.expire(dir, keep = 1)
    assert(!java.nio.file.Files.exists(md.resolve("v1.bloom")),
      "sidecar must be reclaimed once no surviving manifest references its commit")
    assert(ManifestTable.pointPruneInfo(dir, "k", "1500") == (1, 1)) // conservative
  }

  test("expire reclaims stat sidecars only when no surviving manifest references the commit") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.commitWithNdv((1L to 50L).toDF("k"), dir, append = false, Seq("k"))
    ManifestTable.commitWithNdv((51L to 80L).toDF("k"), dir, append = true, Seq("k"))
    ManifestTable.commitWithNdv((81L to 90L).toDF("k"), dir, append = true, Seq("k"))
    val md = java.nio.file.Paths.get(dir, "_manifests")
    // keep=2: v1's manifest dies but v2/v3 still reference commit-1 files
    // — its sidecar must SURVIVE so ndvEstimate stays covered
    ManifestTable.expire(dir, keep = 2)
    assert(java.nio.file.Files.exists(md.resolve("v1.ndv")),
      "v1 sidecar reclaimed while its files are still referenced")
    val (est, covered) = ManifestTable.ndvEstimate(spark, dir, "k")
    assert(covered && est >= 85 && est <= 95, s"($est, $covered)")
    // overwrite, then expire to just the overwrite: commit 1-3 files are
    // orphaned, so their sidecars reclaim with them
    ManifestTable.commit((1L to 5L).toDF("k"), dir, append = false)
    ManifestTable.expire(dir, keep = 1)
    assert(!java.nio.file.Files.exists(md.resolve("v1.ndv")) &&
      !java.nio.file.Files.exists(md.resolve("v2.ndv")) &&
      !java.nio.file.Files.exists(md.resolve("v3.ndv")),
      "dead commits' sidecars must be reclaimed with their files")
  }

  test("files/history metadata tables reflect commits, deletes, and sidecars with zero data IO") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.commitWithBloom((1L to 100L).toDF("k").repartition(2),
      dir, append = false, Seq("k"))
    ManifestTable.commit((101L to 200L).toDF("k").repartition(3), dir, append = true)
    ManifestTable.delete(Seq(5L).toDF("k"), dir, "k")
    val files = ManifestTable.filesTable(spark, dir)
      .groupBy($"kind").count().as[(String, Long)].collect().toMap
    assert(files == Map("data" -> 5L, "eq_delete" -> 1L))
    // bloom sidecars visible on commit-1 files only
    val blooms = ManifestTable.filesTable(spark, dir)
      .filter($"bloom_cols" === "k").count()
    assert(blooms == 2, s"expected 2 bloom-carrying files, got $blooms")
    val hist = ManifestTable.historyTable(spark, dir)
      .as[(Int, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(hist.map(h => (h._1, h._3, h._4)) ==
      Seq((1, 2L, 0L), (2, 5L, 0L), (3, 5L, 1L)))
  }

  test("rollback restores a prior snapshot as a new commit, preserving history and deletes") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.commit((1L to 10L).toDF("k"), dir, append = false)
    ManifestTable.delete(Seq(3L, 7L).toDF("k"), dir, "k")     // v2: 8 rows live
    ManifestTable.commit((100L to 101L).toDF("k"), dir, append = false) // v3: bad overwrite
    val v4 = ManifestTable.rollback(dir, toVersion = 2)
    assert(v4 == 4)
    // restored state is bit-identical to v2 — INCLUDING the delete entry
    assert(ManifestTable.read(spark, dir).select("k").as[Long].collect().sorted.toSeq
      == (1L to 10L).filterNot(Set(3L, 7L)).toSeq)
    // history intact: the bad v3 stays time-travelable after the rollback
    assert(ManifestTable.read(spark, dir, 3).count() == 2)
    // zero data movement: v4 references v2's manifest lines verbatim
    assert(ManifestTable.fileCount(dir, 4) == ManifestTable.fileCount(dir, 2))
    // bounds checked
    intercept[IllegalArgumentException](ManifestTable.rollback(dir, 0))
    intercept[IllegalArgumentException](ManifestTable.rollback(dir, 9))
  }

  test("equality deletes are sequence-scoped, survive time travel, and purge on compact") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.commit((1L to 10L).toDF("k"), dir, append = false)
    // v2: delete even keys — no data file rewritten
    val v2 = ManifestTable.delete((1L to 10L).filter(_ % 2 == 0).toDF("k"), dir, "k")
    assert(v2 == 2)
    assert(ManifestTable.read(spark, dir, 2).as[Long].collect().sorted
      .sameElements(Array(1L, 3L, 5L, 7L, 9L)))
    // v1 time travel still sees all 10 (immutability)
    assert(ManifestTable.read(spark, dir, 1).count() == 10)
    // v3 re-appends 4 and 20: appended AFTER the delete → both survive
    ManifestTable.commit(Seq(4L, 20L).toDF("k"), dir, append = true)
    assert(ManifestTable.read(spark, dir, 3).as[Long].collect().sorted
      .sameElements(Array(1L, 3L, 4L, 5L, 7L, 9L, 20L)))
    // a second delete hits BOTH earlier commits (4 from v3, nothing from v1)
    ManifestTable.delete(Seq(4L, 9L).toDF("k"), dir, "k")
    assert(ManifestTable.read(spark, dir, 4).as[Long].collect().sorted
      .sameElements(Array(1L, 3L, 5L, 7L, 20L)))
    // compact materializes the merge and purges every delete entry
    val v5 = ManifestTable.compact(spark, dir, numFiles = 1)
    assert(v5 == 5 && ManifestTable.fileCount(dir, 5) == 1)
    assert(ManifestTable.read(spark, dir, 5).as[Long].collect().sorted
      .sameElements(Array(1L, 3L, 5L, 7L, 20L)))
  }

  test("incremental read returns exactly the appended delta; non-append ranges fail loudly") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.commit((1L to 10L).toDF("k"), dir, append = false)
    ManifestTable.commit((11L to 15L).toDF("k"), dir, append = true)
    ManifestTable.commit((16L to 18L).toDF("k"), dir, append = true)
    // v1→v3 delta = the two appended slices, nothing re-read from v1
    val delta = ManifestTable.changes(spark, dir, 1)
    assert(delta.as[Long].collect().sorted.toSeq == (11L to 18L).toSeq)
    assert(delta.inputFiles.forall(f => !f.contains("commit-1")))
    // from version 0 = everything
    assert(ManifestTable.changes(spark, dir, 0).count() == 18)
    // an overwrite in range breaks append-only semantics → loud failure
    ManifestTable.commit(Seq(99L).toDF("k"), dir, append = false)
    intercept[IllegalArgumentException](ManifestTable.changes(spark, dir, 1))
    // a delete commit in range likewise
    val dir2 = freshDir()
    ManifestTable.commit((1L to 5L).toDF("k"), dir2, append = false)
    ManifestTable.delete(Seq(2L).toDF("k"), dir2, "k")
    intercept[IllegalArgumentException](ManifestTable.changes(spark, dir2, 1))
  }

  test("manifest stats prune clustered files; unknown columns and legacy bare lines scan everything") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.commit((1L to 10L).toDF("k").coalesce(1), dir, append = false)
    ManifestTable.commit((11L to 20L).toDF("k").coalesce(1), dir, append = true)
    ManifestTable.commit((21L to 30L).toDF("k").coalesce(1), dir, append = true)
    assert(ManifestTable.pruneInfo(dir, "k", 12, 15) == (1, 3),
      "one clustered file must intersect [12,15]")
    val pruned = ManifestTable.readWhere(spark, dir, "k", 12, 15)
    assert(pruned.inputFiles.length == 1)
    assert(pruned.filter($"k" >= 12 && $"k" <= 15)
      .agg(sum($"k")).head.getLong(0) == (12L to 15L).sum)
    // a column the stats don't cover prunes NOTHING (conservative)
    assert(ManifestTable.pruneInfo(dir, "absent", 0, 0) == (3, 3))
    // legacy manifests — bare path lines, no F| prefix — read fine and
    // prune nothing (forward compat with round-5 tables)
    val mf = java.nio.file.Paths.get(dir, "_manifests", "v3.list")
    import scala.jdk.CollectionConverters._
    val legacy = java.nio.file.Files.readAllLines(mf).asScala
      .map(l => if (l.startsWith("F|")) l.split('|')(1) else l)
    java.nio.file.Files.write(mf, legacy.asJava)
    assert(ManifestTable.read(spark, dir).count() == 30)
    assert(ManifestTable.pruneInfo(dir, "k", 12, 15) == (3, 3))
    assert(ManifestTable.readWhere(spark, dir, "k", 12, 15).count() == 30)
  }

  test("position deletes erase by (file,pos) without rewriting data; later appends survive; compaction purges") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.commit((1L to 10L).map(k => (k, k % 3)).toDF("k", "tag"),
      dir, append = false)
    val v1Files = ManifestTable.read(spark, dir, 1).inputFiles.toSet
    val v2 = ManifestTable.deleteWhere(spark, dir, col("tag") === 1)
    assert(v2 == 2)
    // merge-on-read: same data files, plus only the delete file
    val v2Files = ManifestTable.read(spark, dir, 2).inputFiles.toSet
    assert(v1Files.subsetOf(v2Files) &&
      (v2Files -- v1Files).forall(_.contains("commit-2")))
    assert(ManifestTable.read(spark, dir, 2).select("k").as[Long].collect().sorted
      .toSeq == (1L to 10L).filter(_ % 3 != 1))
    // rows matching the predicate APPENDED AFTER the delete survive —
    // position deletes pin physical rows, not values
    ManifestTable.commit(Seq((100L, 1L)).toDF("k", "tag"), dir, append = true)
    assert(ManifestTable.read(spark, dir, 3).filter($"tag" === 1)
      .select("k").as[Long].collect().toSeq == Seq(100L))
    // time travel: v1 still sees every row
    assert(ManifestTable.read(spark, dir, 1).count() == 10)
    // a position delete breaks the append-only change feed, loudly
    intercept[IllegalArgumentException](ManifestTable.changes(spark, dir, 1, 2))
    // compaction materializes the merge and drops the delete file
    val v4 = ManifestTable.compact(spark, dir, numFiles = 1)
    assert(ManifestTable.fileCount(dir, v4) == 1)
    assert(ManifestTable.read(spark, dir, v4).agg(sum($"k")).head.getLong(0)
      == (1L to 10L).filter(_ % 3 != 1).sum + 100L)
  }

  test("metadata aggregates: count/min/max fold from manifest lines, refuse under deletes, return after compaction") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.commit((1L to 10L).toDF("k"), dir, append = false)
    ManifestTable.commit((11L to 25L).toDF("k"), dir, append = true)
    // zero data IO by construction — both fold over parsed manifest lines
    assert(ManifestTable.countStar(dir).contains(25L))
    assert(ManifestTable.statsMinMax(dir, "k").contains((1.0, 25.0)))
    // time travel: the v1 metadata answer is the v1 snapshot's
    assert(ManifestTable.countStar(dir, 1).contains(10L))
    assert(ManifestTable.statsMinMax(dir, "k", 1).contains((1.0, 10.0)))
    // no stat for an unknown column
    assert(ManifestTable.statsMinMax(dir, "nope").isEmpty)
    // any visible delete entry makes both refuse (survivor count unknowable)
    ManifestTable.delete(Seq(5L).toDF("k"), dir, "k")
    assert(ManifestTable.countStar(dir).isEmpty)
    assert(ManifestTable.statsMinMax(dir, "k").isEmpty)
    // …but the pre-delete version still answers from metadata
    assert(ManifestTable.countStar(dir, 2).contains(25L))
    // compaction purges the delete physically — O(1) answers come back
    ManifestTable.compact(spark, dir, 2)
    assert(ManifestTable.countStar(dir).contains(24L))
    assert(ManifestTable.statsMinMax(dir, "k").contains((1.0, 25.0)))
    // POSITION deletes are exact-count erasures: COUNT(*) stays a
    // zero-IO metadata answer (Σ data __rows − Σ pos __rows), stacking
    // included — while min/max still refuse (a deleted row might have
    // been the extremum) and equality deletes still refuse count
    ManifestTable.deleteWhere(spark, dir, org.apache.spark.sql.functions
      .col("k") % 5 === 0)                     // erases 10,15,20,25
    assert(ManifestTable.countStar(dir).contains(20L),
      s"pos-only count expected 20, got ${ManifestTable.countStar(dir)}")
    assert(ManifestTable.statsMinMax(dir, "k").isEmpty)
    ManifestTable.deleteWhere(spark, dir, org.apache.spark.sql.functions
      .col("k") === 1L)
    assert(ManifestTable.countStar(dir).contains(19L))
    assert(ManifestTable.read(spark, dir).count() == 19)
    ManifestTable.compact(spark, dir, 2)
    assert(ManifestTable.countStar(dir).contains(19L))
    assert(ManifestTable.statsMinMax(dir, "k").isDefined)
    // a legacy manifest line without stats poisons only what it can't answer
    val md = java.nio.file.Paths.get(dir, "_manifests")
    val v = ManifestTable.currentVersion(dir)
    val lines = java.nio.file.Files.readAllLines(md.resolve(s"v$v.list"))
    val legacy = new java.util.ArrayList[String](lines)
    legacy.set(0, lines.get(0).split('|')(1)) // strip F|…|stats → bare path
    java.nio.file.Files.write(md.resolve(s"v${v + 1}.list"), legacy)
    assert(ManifestTable.countStar(dir).isEmpty)
    assert(ManifestTable.read(spark, dir).count() == 19) // reads still fine
  }

  test("updateWhere: stats-bounded copy-on-write, simultaneous assignments, delete refusal") {
    import spark.implicits._
    val dir = freshDir()
    // two value-clustered commits: k 1..10 and k 101..110
    ManifestTable.commit((1L to 10L).map(k => (k, k * 10)).toDF("k", "v")
      .repartition(1), dir, append = false)
    ManifestTable.commit((101L to 110L).map(k => (k, k * 10)).toDF("k", "v")
      .repartition(1), dir, append = true)
    val pred = col("k") >= 100L && col("v") >= 0L
    assert(ManifestTable.updatePruneInfo(dir, pred) == (1, 1))
    // swap-style simultaneous assignment: both see the ORIGINAL row
    ManifestTable.updateWhere(spark, dir, pred,
      Map("k" -> col("v"), "v" -> col("k")))
    val got = ManifestTable.read(spark, dir).filter(col("v") >= 101L)
    assert(got.count() == 10)
    assert(got.agg(sum(col("k"))).head.getLong(0) == (101L to 110L).map(_ * 10).sum)
    assert(got.agg(sum(col("v"))).head.getLong(0) == (101L to 110L).sum)
    // the untouched file carried forward verbatim; time travel intact
    assert(ManifestTable.read(spark, dir).filter(col("k") <= 10L).count() == 10)
    assert(ManifestTable.read(spark, dir, 2).agg(sum(col("k"))).head.getLong(0)
      == (1L to 10L).sum + (101L to 110L).sum)
    // delete entries refuse the rewrite
    ManifestTable.delete(Seq(5L).toDF("k"), dir, "k")
    intercept[IllegalArgumentException] {
      ManifestTable.updateWhere(spark, dir, col("k") > 0L, Map("v" -> lit(0L)))
    }
  }

  test("branches: isolated commits, fast-forward replay, divergence conflict, drop reclaim") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.commit((1L to 10L).toDF("k"), dir, append = false)
    assert(ManifestTable.createBranch(dir, "exp") == 1)
    ManifestTable.commitToBranch((11L to 15L).toDF("k"), dir, "exp")
    // a delete INSIDE the branch scopes correctly (branch seqs are real)
    ManifestTable.commitToBranch((16L to 18L).toDF("k"), dir, "exp")
    assert(ManifestTable.branchVersion(dir, "exp") == 3)
    assert(ManifestTable.currentVersion(dir) == 1) // main untouched
    assert(ManifestTable.readBranch(spark, dir, "exp").count() == 18)
    assert(ManifestTable.readBranch(spark, dir, "exp", 2).count() == 15)
    // duplicate branch name refuses
    intercept[ManifestTable.CommitConflictException] {
      ManifestTable.createBranch(dir, "exp")
    }
    // fast-forward replays every branch version onto main
    assert(ManifestTable.fastForward(dir, "exp") == 3)
    assert(ManifestTable.read(spark, dir).count() == 18)
    assert(ManifestTable.read(spark, dir, 2).count() == 15) // intermediate commit time-travels
    assert(ManifestTable.read(spark, dir, 1).count() == 10)
    // divergence: a branch forked before a foreign main commit can't ff
    ManifestTable.createBranch(dir, "late")
    ManifestTable.commitToBranch((100L to 101L).toDF("k"), dir, "late")
    ManifestTable.commit((200L to 201L).toDF("k"), dir, append = true) // main moves
    intercept[ManifestTable.CommitConflictException] {
      ManifestTable.fastForward(dir, "late")
    }
    // drop reclaims ONLY branch-exclusive files; main history intact
    val reclaimed = ManifestTable.dropBranch(dir, "late")
    assert(reclaimed > 0 && !ManifestTable.branchExists(dir, "late"))
    assert(ManifestTable.read(spark, dir).count() == 20)
    assert(ManifestTable.read(spark, dir, 1).count() == 10)
  }

  test("expire spares files referenced only by branches; dropBranch spares sibling-branch refs") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.commit((1L to 10L).toDF("k"), dir, append = false) // v1
    // two branches share the fork snapshot (v1's files)
    ManifestTable.createBranch(dir, "a")
    ManifestTable.createBranch(dir, "b")
    // main OVERWRITES past the fork, then expires history: v1's files are
    // now referenced ONLY by the branch manifests
    ManifestTable.commit((100L to 101L).toDF("k"), dir, append = false) // v2
    ManifestTable.expire(dir, keep = 1)
    // before the r10 fix this deleted v1's files as orphans → branch reads
    // failed on missing parquet
    assert(ManifestTable.readBranch(spark, dir, "a").count() == 10)
    assert(ManifestTable.readBranch(spark, dir, "b").count() == 10)
    // dropBranch(a) must NOT reclaim the shared fork files b still needs
    ManifestTable.dropBranch(dir, "a")
    assert(ManifestTable.readBranch(spark, dir, "b").count() == 10)
    // once the last referencing branch goes, the files ARE reclaimable
    val reclaimedLast = ManifestTable.dropBranch(dir, "b")
    assert(reclaimedLast > 0)
    assert(ManifestTable.read(spark, dir).count() == 2) // main untouched
  }

  test("expire rolls stream tags into the durable epoch ledger; replay after expiry self-recognizes") {
    import spark.implicits._
    val dir = freshDir()
    // three stream batches land as v1..v3 with .src provenance sidecars
    (1 to 3).foreach { v =>
      ManifestTable.claimSourceTag(dir, v, s"stream-epoch:${v - 1}")
      ManifestTable.commitAt((v * 10L to v * 10L + 1L).toDF("k"), dir, v,
        append = v > 1)
    }
    assert(ManifestTable.streamEpochLedger(dir).isEmpty)
    // while a surviving manifest still references the commits (append
    // chain), expire keeps the .src sidecars — no roll-up needed yet
    ManifestTable.expire(dir, keep = 1)
    assert(ManifestTable.sourceTag(dir, 1).contains("stream-epoch:0"))
    // an overwrite unlinks commits 1-3; the next expire reclaims their
    // .src sidecars — the tags must migrate to the non-expiring ledger
    // first, or a post-expiry epoch replay would double-append
    ManifestTable.commit((900L to 901L).toDF("k"), dir, append = false) // v4
    ManifestTable.expire(dir, keep = 1)
    assert(ManifestTable.sourceTag(dir, 1).isEmpty)
    val ledger = ManifestTable.streamEpochLedger(dir)
    assert(ledger.contains("stream-epoch:0") && ledger.contains("stream-epoch:1") &&
      ledger.contains("stream-epoch:2"),
      s"expired stream tags must survive in the ledger, got $ledger")
    // idempotent re-record (the sink's post-publish append) adds nothing
    ManifestTable.recordStreamEpochs(dir, Seq("stream-epoch:0"))
    assert(ManifestTable.streamEpochLedger(dir) == ledger)
    // non-stream tags are never rolled up
    ManifestTable.recordStreamEpochs(dir, Seq("compaction:xyz"))
    assert(ManifestTable.streamEpochLedger(dir) == ledger)
  }

  test("a user column named __rows gets no stats and never corrupts countStar") {
    import spark.implicits._
    val dir = freshDir()
    // __rows values FAR below the true row count — a collision would
    // min() them into the footer count
    ManifestTable.commit((1L to 50L).map(i => (i, -1000L)).toDF("k", "__rows"),
      dir, append = false)
    assert(ManifestTable.countStar(dir).contains(50L),
      s"countStar must ignore the user __rows column, got ${ManifestTable.countStar(dir)}")
    // and the data itself round-trips untouched
    assert(ManifestTable.read(spark, dir).agg(org.apache.spark.sql.functions.sum($"__rows"))
      .head.getLong(0) == -50000L)
  }

  test("vacuum: reclaims only unreferenced files, honors grace, spares branch-referenced files") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.commit((1L to 10L).toDF("k"), dir, append = false)
    ManifestTable.createBranch(dir, "wip")
    ManifestTable.commitToBranch((11L to 12L).toDF("k"), dir, "wip")
    // orphan: staged bytes from a dead writer
    (100L to 101L).toDF("k").write.parquet(s"$dir/staging/opt-dead")
    // fresh orphans survive a graced vacuum (in-flight writer protection)
    val (g, _) = ManifestTable.vacuum(dir, graceMs = 60000)
    assert(g == 0 && new java.io.File(s"$dir/staging/opt-dead").exists())
    val (n, bytes) = ManifestTable.vacuum(dir, graceMs = 0)
    assert(n > 0 && bytes > 0)
    assert(!new java.io.File(s"$dir/staging/opt-dead").exists())
    // branch-referenced data survived; both reads intact
    assert(ManifestTable.read(spark, dir).count() == 10)
    assert(ManifestTable.readBranch(spark, dir, "wip").count() == 12)
    // after dropping the branch, nothing remains to reclaim (dropBranch
    // already deleted its exclusive files)
    ManifestTable.dropBranch(dir, "wip")
    assert(ManifestTable.vacuum(dir, graceMs = 0)._1 == 0)
  }

  test("snapshot isolation: a dataframe planned at v1 is untouched by later commits") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.commit((1L to 4L).toDF("k"), dir, append = false)
    val readerAtV1 = ManifestTable.read(spark, dir) // resolves v1's manifest NOW
    ManifestTable.commit((5L to 9L).toDF("k"), dir, append = true)
    ManifestTable.commit(Seq(42L).toDF("k"), dir, append = false)
    // the old reader still sees exactly v1 — files were never mutated
    assert(readerAtV1.count() == 4)
    assert(ManifestTable.read(spark, dir).count() == 1)
  }

  test("optimistic concurrency: contending appenders all land via CAS-retry; snapshot-dependent commits abort loudly") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.commit(Seq(0L).toDF("k"), dir, append = false)

    // (a) REAL contention: six writers append disjoint rows concurrently.
    // Every commit must land at a DISTINCT version (the link-CAS admits
    // exactly one claimant per version; losers rebase and retry), and no
    // row may be lost or duplicated.
    val n = 6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val versions =
      try {
        val futs = (1 to n).map { i =>
          Future(ManifestTable.appendOptimistic(
            Seq(i.toLong * 100).toDF("k"), dir))(ec)
        }
        futs.map(Await.result(_, 3.minutes))
      } finally pool.shutdown()
    assert(versions.toSet.size == n,
      s"two writers claimed the same version: $versions")
    assert(versions.toSet == (2 to n + 1).toSet,
      s"versions must be the contiguous next-$n, got $versions")
    assert(ManifestTable.currentVersion(dir) == 1 + n)
    val rows = ManifestTable.read(spark, dir)
      .select($"k").as[Long].collect().sorted.toSeq
    assert(rows == 0L +: (1 to n).map(_ * 100L),
      s"rows lost or duplicated under contention: $rows")

    // (b) INTERLEAVED snapshot-dependent writer: plans its target version,
    // then a foreign commit intervenes — the late publish must abort with
    // CommitConflictException and leave NO trace (no torn manifest).
    val planned = ManifestTable.currentVersion(dir) + 1
    ManifestTable.commit(Seq(999L).toDF("k"), dir, append = true) // foreign writer wins `planned`
    intercept[ManifestTable.CommitConflictException] {
      ManifestTable.publish(dir, ManifestTable.Ref.Main, planned, ManifestTable.CommitPlan())
    }
    assert(ManifestTable.currentVersion(dir) == 2 + n) // only the foreign commit landed
    assert(ManifestTable.read(spark, dir).count() == (n + 2).toLong)
  }

  test("cherryPick lands one append commit on a moved main; hard-links, re-sequences, refuses non-appends") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.commit((1L to 10L).toDF("k"), dir, append = false)  // main v1
    ManifestTable.createBranch(dir, "exp")
    ManifestTable.commitToBranch((11L to 13L).toDF("k"), dir, "exp")  // branch v2
    ManifestTable.commitToBranch((21L to 23L).toDF("k"), dir, "exp")  // branch v3
    // main moves: equality delete at sequence 2, whose keys include a
    // yet-unpicked branch row (k = 22)
    ManifestTable.delete(Seq(2L, 22L).toDF("k"), dir, "k")            // main v2
    assert(ManifestTable.read(spark, dir).count() == 9)
    // pick branch v3 only (out of lineage order is fine for appends)
    assert(ManifestTable.cherryPick(dir, "exp", 3) == 3)
    val main = ManifestTable.read(spark, dir).select($"k").as[Long].collect().toSet
    // 22 SURVIVES: its file re-sequenced past the delete; 2 stays deleted
    assert(main == ((1L to 10L).toSet - 2L) ++ Set(21L, 22L, 23L), s"got $main")
    // the picked files are hard links (same inode), not byte copies
    val dataDirs = new java.io.File(s"$dir/data").listFiles().map(_.getName)
    val pickDir = dataDirs.filter(_.matches("commit-3-[0-9a-f]{12}"))
      .filterNot(d => new java.io.File(s"$dir/data/$d").listFiles()
        .exists(_.getName.endsWith("_SUCCESS")))
    assert(pickDir.length == 1, s"expected one linked pick dir, got ${dataDirs.toSeq}")
    val branchV3 = dataDirs.filter(_.startsWith("commit-3-"))
      .filterNot(pickDir.contains).head
    import java.nio.file.attribute.BasicFileAttributes
    new java.io.File(s"$dir/data/${pickDir.head}").listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        val a = java.nio.file.Files.readAttributes(
          f.toPath, classOf[BasicFileAttributes]).fileKey
        val b = java.nio.file.Files.readAttributes(
          java.nio.file.Paths.get(s"$dir/data/$branchV3/${f.getName}"),
          classOf[BasicFileAttributes]).fileKey
        assert(a == b, s"${f.getName} must be a hard link of the branch file")
      }
    // branch and main v1 untouched
    assert(ManifestTable.readBranch(spark, dir, "exp").count() == 16)
    assert(ManifestTable.read(spark, dir, 1).count() == 10)
    // second pick of the remaining commit lands next
    assert(ManifestTable.cherryPick(dir, "exp", 2) == 4)
    assert(ManifestTable.read(spark, dir).count() == 9 + 3 + 3)
    // refusal: an overwrite branch commit is not a pure append
    ManifestTable.commitToBranch((50L to 51L).toDF("k"), dir, "exp", append = false) // branch v4
    intercept[ManifestTable.CommitConflictException] {
      ManifestTable.cherryPick(dir, "exp", 4)
    }
    // refusal: unknown branch version
    intercept[IllegalArgumentException] {
      ManifestTable.cherryPick(dir, "exp", 9)
    }
    // a refused pick leaves no new data dir behind
    val after = new java.io.File(s"$dir/data").listFiles().map(_.getName).toSet
    assert(!after.exists(_.startsWith("commit-5-")), s"refused pick left debris: $after")
  }

  test("readWithProvenance stamps every live row with its file's commit; deletes never re-stamp") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.commit((1L to 6L).toDF("k"), dir, append = false)   // v1
    ManifestTable.commit((11L to 13L).toDF("k"), dir, append = true)  // v2
    ManifestTable.delete(Seq(2L, 12L).toDF("k"), dir, "k")            // v3
    val pv = ManifestTable.readWithProvenance(spark, dir)
      .select($"k", $"_commit_version").as[(Long, Int)].collect().toMap
    assert(pv == Map(1L -> 1, 3L -> 1, 4L -> 1, 5L -> 1, 6L -> 1,
      11L -> 2, 13L -> 2), s"got $pv")
    // a historical version reports its own snapshot's provenance
    val pv1 = ManifestTable.readWithProvenance(spark, dir, 1)
      .select($"_commit_version").distinct().as[Int].collect().toSeq
    assert(pv1 == Seq(1))
  }

  test("cloneTable: linked snapshot with both delete kinds; independent; survives source vacuum") {
    import spark.implicits._
    val dir = freshDir()
    val dst = freshDir()
    ManifestTable.commit((1L to 10L).toDF("k"), dir, append = false)  // v1
    ManifestTable.commit((11L to 16L).toDF("k"), dir, append = true)  // v2
    ManifestTable.delete(Seq(3L, 13L).toDF("k"), dir, "k")            // v3 eq-delete
    ManifestTable.deleteWhere(spark, dir, col("k") % 5 === 0)         // v4 pos-delete (5,10,15)
    val want = Set(1L, 2L, 4L, 6L, 7L, 8L, 9L, 11L, 12L, 14L, 16L)
    assert(ManifestTable.read(spark, dir).as[Long].collect().toSet == want)
    // head claims the max cloned sequence (4), so future clone commits
    // sequence past the cloned deletes
    assert(ManifestTable.cloneTable(spark, dir, dst) == 4)
    assert(ManifestTable.read(spark, dst).as[Long].collect().toSet == want)
    // countStar parity: eq-deletes make BOTH sides an honest None
    assert(ManifestTable.countStar(dst) == ManifestTable.countStar(dir))
    // independence both ways — and 3L (a key in the cloned eq-delete
    // file) RE-APPENDED to the clone must survive: the new commit's
    // sequence post-dates the cloned delete
    ManifestTable.commit(Seq(100L).toDF("k"), dir, append = true)
    ManifestTable.commit(Seq(200L, 3L).toDF("k"), dst, append = true)
    assert(ManifestTable.read(spark, dst).as[Long].collect().toSet ==
      want + 200L + 3L)
    assert(ManifestTable.read(spark, dir).as[Long].collect().toSet == want + 100L)
    // dangle-proof: source compact + expire + vacuum(0) kills every
    // pre-compaction source PATH; the clone still reads via its links
    ManifestTable.compact(spark, dir, 1)
    ManifestTable.expire(dir, keep = 1)
    ManifestTable.vacuum(dir, graceMs = 0)
    assert(ManifestTable.read(spark, dst).as[Long].collect().toSet ==
      want + 200L + 3L)
    // refusal: a target with commits
    intercept[IllegalArgumentException] {
      ManifestTable.cloneTable(spark, dir, dst)
    }
    // a pos-delete-only table keeps its exact zero-IO count through the
    // clone (the rewritten delete file must carry the same __rows)
    val dir2 = freshDir(); val dst2 = freshDir()
    ManifestTable.commit((1L to 8L).toDF("k"), dir2, append = false)
    ManifestTable.deleteWhere(spark, dir2, col("k") > 6)
    assert(ManifestTable.countStar(dir2).contains(6L))
    ManifestTable.cloneTable(spark, dir2, dst2)
    assert(ManifestTable.countStar(dst2).contains(6L))
    assert(ManifestTable.read(spark, dst2).as[Long].collect().toSet == (1L to 6L).toSet)
    // catalog sidecars travel: declared partition spec + write-layout files
    val dir3 = freshDir(); val dst3 = freshDir()
    ManifestTable.commitPartitioned(
      (1L to 40L).toDF("k"), dir3, append = false,
      Seq(ManifestTable.BucketTransform(4, "k")), numFiles = 2)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir3, "_write.key"),
      "k".getBytes("UTF-8"))
    ManifestTable.cloneTable(spark, dir3, dst3)
    assert(ManifestTable.partitionTransforms(dst3) ==
      ManifestTable.partitionTransforms(dir3))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dst3, "_write.key")))
    assert(ManifestTable.read(spark, dst3).count() == 40)
    ()
  }

  test("syncClone replays appends, deletes, and merge commits in order; no-op when current") {
    import spark.implicits._
    val src = freshDir(); val dst = freshDir()
    ManifestTable.commit(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"),
      src, append = false)                                           // v1
    val synced = ManifestTable.cloneTable(spark, src, dst)
    // source moves: append, delete, MERGE (delete+insert in ONE version),
    // re-append of a deleted key
    ManifestTable.commit(Seq((4L, 40L)).toDF("k", "v"), src, append = true) // v2
    ManifestTable.delete(Seq(2L).toDF("k"), src, "k")                       // v3
    ManifestTable.merge(Seq((3L, 333L), (5L, 50L)).toDF("k", "v"), src, "k") // v4
    ManifestTable.commit(Seq((2L, 222L)).toDF("k", "v"), src, append = true) // v5
    ManifestTable.syncClone(spark, src, dst, synced, "k")
    val want = Map(1L -> 10L, 3L -> 333L, 4L -> 40L, 5L -> 50L, 2L -> 222L)
    def asMap(d: String) = ManifestTable.read(spark, d)
      .as[(Long, Long)].collect().toMap
    assert(asMap(src) == want, s"src drifted: ${asMap(src)}")
    assert(asMap(dst) == want, s"clone wrong: ${asMap(dst)}")
    // idempotent when already current: zero new clone versions
    val head = ManifestTable.currentVersion(dst)
    ManifestTable.syncClone(spark, src, dst, ManifestTable.currentVersion(src), "k")
    assert(ManifestTable.currentVersion(dst) == head)
    ()
  }

  test("compactSmall merges only sub-threshold files, refuses under deletes, no-ops under two") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.commit((1L to 20000L).toDF("k").coalesce(1), dir, append = false) // big
    ManifestTable.commit(Seq(100001L).toDF("k"), dir, append = true)                // tiny
    ManifestTable.commit(Seq(100002L).toDF("k"), dir, append = true)                // tiny
    val bigPath = ManifestTable.filesTable(spark, dir)
      .filter($"seq" === 1).select($"path").as[String].head
    val v = ManifestTable.compactSmall(spark, dir, smallBytes = 16 * 1024)
    assert(v == 4)
    val after = ManifestTable.filesTable(spark, dir)
    assert(after.count() == 2, s"expected big + merged, got ${after.count()}")
    assert(after.filter($"path" === bigPath).count() == 1, "big file must carry verbatim")
    assert(ManifestTable.read(spark, dir).count() == 20002)
    assert(ManifestTable.countStar(dir).contains(20002L))
    // fewer than two small files -> no-op, no commit
    assert(ManifestTable.compactSmall(spark, dir, smallBytes = 16 * 1024) == 4)
    ()
  }

  test("compactSmall is delete-tolerant: MoR-merges the small subset, carries delete scoping (r13)") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.commit((1L to 20000L).toDF("k").coalesce(1), dir, append = false) // v1 big
    ManifestTable.commit(Seq(100001L, 100002L).toDF("k"), dir, append = true)       // v2 tiny
    ManifestTable.delete(Seq(100001L, 5L).toDF("k"), dir, "k")                      // v3 eq-delete
    ManifestTable.commit(Seq(100001L).toDF("k"), dir, append = true)                // v4 tiny: re-insert AFTER the delete
    // position delete spanning a big and a small file
    ManifestTable.deleteWhere(spark, dir, $"k".isin(7L, 100002L))                   // v5
    val expected = ManifestTable.read(spark, dir).as[Long].collect().sorted
    val bigPath = ManifestTable.filesTable(spark, dir)
      .filter($"seq" === 1).select($"path").as[String].head
    val v = ManifestTable.compactSmall(spark, dir, smallBytes = 16 * 1024)
    assert(v == 6)
    // content bit-identical to the pre-binpack MoR view
    assert(ManifestTable.read(spark, dir).as[Long].collect().sorted
      .sameElements(expected))
    // big file verbatim; the merged output materialized its deletes, so
    // the re-inserted 100001 survives (sequence scoping respected) and
    // 100002 stays gone (position delete applied in the merge)
    val after = ManifestTable.filesTable(spark, dir)
    assert(after.filter($"path" === bigPath).count() == 1)
    // the equality-delete line still scopes the big file (k=5 stays
    // erased) and the spanning position-delete line was reconciled to
    // reference only the surviving big file (k=7 stays erased)
    assert(!expected.contains(5L) && !expected.contains(7L) &&
      expected.contains(100001L) && !expected.contains(100002L))
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(dir, "_manifests", s"v$v.list")).asScala
    assert(lines.exists(_.startsWith("D|")), "equality delete must carry")
    val posLines = lines.filter(_.startsWith("P|"))
    assert(posLines.size == 1, s"spanning pos-delete must rewrite to one line: $posLines")
    // the rewrite is feed-silent: a feed spanning it sees zero events
    assert(ManifestTable.changeFeed(spark, dir, v - 1, v).isEmpty)
    ()
  }

  test("compactSmall refuses on a bucket-partitioned table (SPJ tags are metadata-only) (r13)") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.commit(Seq(1L).toDF("k"), dir, append = false)
    ManifestTable.commit(Seq(2L).toDF("k"), dir, append = true)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_partition.bucket"),
      "k\n4".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      ManifestTable.compactSmall(spark, dir, smallBytes = 16 * 1024)
    }
    assert(e.getMessage.contains("bucket"))
    ()
  }

  test("expireBefore keeps versions published at-or-after the horizon, head always") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.commit(Seq(1L).toDF("k"), dir, append = false)  // v1
    ManifestTable.commit(Seq(2L).toDF("k"), dir, append = true)   // v2
    ManifestTable.commit(Seq(3L).toDF("k"), dir, append = true)   // v3
    // craft durable publish instants (the policy input)
    Seq(1 -> 1000L, 2 -> 2000L, 3 -> 3000L).foreach { case (v, t) =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "_manifests", s"v$v.ts"),
        t.toString.getBytes("UTF-8"))
    }
    ManifestTable.expireBefore(dir, 1500L)  // v1 ages out, v2/v3 stay
    intercept[Exception] { ManifestTable.read(spark, dir, 1).collect() }
    assert(ManifestTable.read(spark, dir, 2).count() == 2)
    assert(ManifestTable.read(spark, dir, 3).count() == 3)
    // a horizon beyond every instant keeps the head alone
    ManifestTable.expireBefore(dir, Long.MaxValue)
    intercept[Exception] { ManifestTable.read(spark, dir, 2).collect() }
    assert(ManifestTable.read(spark, dir).count() == 3)
    ()
  }

  test("syncCloneTracked: marker-driven re-sync, divergence refused loudly") {
    import spark.implicits._
    val src = freshDir(); val dst = freshDir()
    ManifestTable.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"),
      src, append = false)                                            // v1
    ManifestTable.cloneTable(spark, src, dst)
    // two tracked syncs in a row, no bookkeeping on the caller
    ManifestTable.commit(Seq((3L, 30L)).toDF("k", "v"), src, append = true)
    ManifestTable.syncCloneTracked(spark, dst, "k")
    ManifestTable.delete(Seq(1L).toDF("k"), src, "k")
    ManifestTable.commit(Seq((4L, 40L)).toDF("k", "v"), src, append = true)
    ManifestTable.syncCloneTracked(spark, dst, "k")
    assert(ManifestTable.read(spark, dst).as[(Long, Long)].collect().toMap ==
      Map(2L -> 20L, 3L -> 30L, 4L -> 40L))
    // a current clone re-syncs as a no-op
    val head = ManifestTable.currentVersion(dst)
    ManifestTable.syncCloneTracked(spark, dst, "k")
    assert(ManifestTable.currentVersion(dst) == head)
    // divergence: a foreign commit on the clone makes the next tracked
    // sync refuse (a fork, not a replica)
    ManifestTable.commit(Seq((99L, 990L)).toDF("k", "v"), dst, append = true)
    ManifestTable.commit(Seq((5L, 50L)).toDF("k", "v"), src, append = true)
    intercept[ManifestTable.CommitConflictException] {
      ManifestTable.syncCloneTracked(spark, dst, "k")
    }
    // a non-clone refuses for want of a marker
    intercept[IllegalArgumentException] {
      ManifestTable.syncCloneTracked(spark, src, "k")
    }
    ()
  }

  test("syncClone toVersion pins the replay bound; tracked marker records the replayed head (r13)") {
    import spark.implicits._
    val src = freshDir(); val dst = freshDir()
    ManifestTable.commit(Seq((1L, 10L)).toDF("k", "v"), src, append = false) // v1
    val synced = ManifestTable.cloneTable(spark, src, dst)
    ManifestTable.commit(Seq((2L, 20L)).toDF("k", "v"), src, append = true)  // v2
    ManifestTable.commit(Seq((3L, 30L)).toDF("k", "v"), src, append = true)  // v3
    // replay pinned to v2: the v3 commit must NOT arrive (a tracked
    // caller resolves the head once — a concurrent commit landing after
    // that resolution is the NEXT sync's work, never silently skipped)
    ManifestTable.syncClone(spark, src, dst, synced, "k", toVersion = 2)
    assert(ManifestTable.read(spark, dst).as[(Long, Long)].collect().toMap ==
      Map(1L -> 10L, 2L -> 20L))
    // beyond-head bound refuses
    intercept[IllegalArgumentException] {
      ManifestTable.syncClone(spark, src, dst, 2, "k", toVersion = 99)
    }
    // the tracked marker's recorded source version equals what was
    // REPLAYED: after a tracked sync, a fresh tracked sync picks up v3
    // (nothing lost between resolution and marker write)
    val marker = java.nio.file.Paths.get(dst, "_clone.origin")
    java.nio.file.Files.write(marker,
      java.util.List.of(src, "2", ManifestTable.currentVersion(dst).toString))
    ManifestTable.syncCloneTracked(spark, dst, "k")
    assert(ManifestTable.read(spark, dst).as[(Long, Long)].collect().toMap ==
      Map(1L -> 10L, 2L -> 20L, 3L -> 30L))
    import scala.jdk.CollectionConverters._
    val m = java.nio.file.Files.readAllLines(marker).asScala
    assert(m(1).trim.toInt == 3 &&
      m(2).trim.toInt == ManifestTable.currentVersion(dst))
    ()
  }

  test("assembled-plan memo: repeat reads reuse the plan, commits and path re-creation invalidate") {
    import spark.implicits._
    val dir = freshDir()
    ManifestTable.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), dir,
      append = false)
    // two reads of the same immutable version are the SAME memoized plan
    val a = ManifestTable.read(spark, dir, 1)
    val b = ManifestTable.read(spark, dir, 1)
    assert(a eq b, "same (dir, version, file set) must return the memoized plan")
    // … and every ACTION still computes from parquet: a new commit is
    // visible to a fresh latest-read (no result was cached anywhere)
    ManifestTable.commit(Seq((3L, 30L)).toDF("k", "v"), dir, append = true)
    assert(ManifestTable.read(spark, dir).count() == 3)
    assert(ManifestTable.read(spark, dir, 1).count() == 2) // v1 plan still v1
    // path re-creation (rm + same dir re-committed) must MISS the memo —
    // part-file names carry per-write UUIDs, so the fingerprint moves
    def rmf(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rmf); f.delete(): Unit }
    rmf(new java.io.File(dir))
    ManifestTable.commit(Seq((7L, 70L)).toDF("k", "v"), dir, append = false)
    val re = ManifestTable.read(spark, dir, 1)
    assert(re.agg(sum($"v")).head.getLong(0) == 70L,
      "a re-created table at the same path must not serve the stale plan")
    ()
  }
}
