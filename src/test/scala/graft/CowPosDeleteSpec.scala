package graft

import graft.sources.ManifestTable
import org.apache.spark.sql.functions.col

/** ADVICE r10 (high): a GROUP copy-on-write SQL mutation on a snapshot
  * carrying POSITION deletes reads the merge-on-read view — so every
  * position delete targeting a replaced file is already MATERIALIZED in
  * the rewritten content. Carrying the `P|` manifest lines forward
  * verbatim would erase the same rows twice: `countStar` subtracts the
  * delete's `__rows` from a data sum that no longer contains them (a
  * silent wrong COUNT(*)), and the table stays pinned on the
  * merge-on-read path forever. Copy-on-write publishes (a `replaced`
  * set in the commit plan) now reconcile: fully-covered delete files
  * drop, untouched ones carry verbatim, and a delete file spanning
  * touched AND untouched files is rewritten to keep only positions that
  * reference surviving files. ADVICE r10 (medium): `canDeleteWhere`
  * refuses delete-carrying snapshots so SQL DELETE falls back to the
  * (now-safe) row-level plan instead of dying on deleteWhereCow's
  * "compact first" require. */
class CowPosDeleteSpec extends SparkSpec {
  private lazy val wh: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_cowpos")
    d.toFile.deleteOnExit()
    spark.conf.set("spark.sql.catalog.gcpd", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcpd.warehouse", d.toString)
    d.toString
  }

  test("SQL UPDATE after a library position delete drops materialized P| lines — COUNT(*) stays exact") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gcpd.ns.t1 (k BIGINT, v BIGINT)")
    (1L to 100L).map(k => (k, k)).toDF("k", "v").createOrReplaceTempView("cpd_src1")
    spark.sql("INSERT INTO gcpd.ns.t1 SELECT * FROM cpd_src1")           // v1
    val dir = s"$wh/ns/t1"
    ManifestTable.deleteWhere(spark, dir, col("k") <= 10L)               // v2: pos delete
    assert(ManifestTable.sqlEntriesAt(dir, 2).exists(_.posDelete))
    assert(ManifestTable.countStar(dir).contains(90L))

    // `%` defeats stats pruning → the group CoW replaces EVERY data file;
    // the position deletes are materialized in the rewrite and their
    // stale lines must leave the manifest with them
    spark.sql("UPDATE gcpd.ns.t1 SET v = v + 1000 WHERE k % 2 = 0")      // v3
    val es = ManifestTable.sqlEntriesAt(dir, 3)
    assert(!es.exists(_.posDelete),
      "fully-materialized position deletes must leave the manifest")
    assert(ManifestTable.countStar(dir).contains(90L),
      "COUNT(*) must stay exact after the CoW (no double subtraction)")
    assert(spark.sql("SELECT count(*) FROM gcpd.ns.t1").head.getLong(0) == 90L)
    val expect = (11L to 100L).map(k => if (k % 2 == 0) k + 1000 else k).sum
    assert(spark.sql("SELECT sum(v) FROM gcpd.ns.t1").head.getLong(0) == expect)
    // time travel across both mutations stays intact
    assert(spark.sql("SELECT count(*) FROM gcpd.ns.t1 VERSION AS OF 1")
      .head.getLong(0) == 100L)
    assert(spark.sql("SELECT count(*) FROM gcpd.ns.t1 VERSION AS OF 2")
      .head.getLong(0) == 90L)
  }

  test("bounded CoW REWRITES a position-delete file spanning touched and untouched files") {
    import spark.implicits._
    wh: Unit
    spark.sql("""CREATE TABLE gcpd.ns.t2 (k BIGINT, v BIGINT)
                |TBLPROPERTIES('write.order'='k','write.order.partitions'='4')
                |""".stripMargin)
    (1L to 400L).map(k => (k, k)).toDF("k", "v").createOrReplaceTempView("cpd_src2")
    spark.sql("INSERT INTO gcpd.ns.t2 SELECT * FROM cpd_src2")           // v1: 4 range files
    val dir = s"$wh/ns/t2"
    val v1Files = ManifestTable.sqlEntriesAt(dir, 1).filter(_.isData).map(_.path)
    assert(v1Files.size == 4)
    // ONE delete file spanning all four range files (k = 1, 101, 201,
    // 301): `deleteWhere` happens to write one delete file per scanned
    // data file, which only exercises the drop/keep branches — the
    // rewrite branch needs a genuinely spanning file, the shape a
    // coalesced scan (or another engine's compactor) writes
    val spanDir = s"$dir/data/commit-2/span"
    spark.read.parquet(v1Files: _*)
      .withColumn("file_path", col("_metadata.file_path"))
      .withColumn("pos", col("_metadata.row_index"))
      .filter(col("k") % 100L === 1L)
      .select("file_path", "pos")
      .coalesce(1).write.parquet(spanDir)
    val delFile = Option(new java.io.File(spanDir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).head
    val v1Lines = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(dir, "_manifests", "v1.list"))
    ManifestTable.publish(dir, ManifestTable.Ref.Main, 2,
      ManifestTable.CommitPlan(ManifestTable.Base.Lines(
        (v1Lines.toArray(Array.empty[String]).toSeq :+
          s"P|$delFile|__rows:4.0:4.0").sorted)))                        // v2
    val oldPos = ManifestTable.sqlEntriesAt(dir, 2).filter(_.posDelete)
    assert(oldPos.size == 1 && ManifestTable.countStar(dir).contains(396L))

    // window prunable to the FIRST range file only: the delete position
    // k=1 is materialized there; k=101/201/301 pin rows in files the
    // rewrite never opens — their entries must survive, re-written into
    // a delete file that no longer references the replaced file
    spark.sql("UPDATE gcpd.ns.t2 SET v = v + 1000 WHERE k BETWEEN 2 AND 80") // v3
    val v3 = ManifestTable.sqlEntriesAt(dir, 3)
    val survivors = v1Files.toSet.intersect(v3.filter(_.isData).map(_.path).toSet)
    assert(survivors.nonEmpty && survivors.size < v1Files.size,
      s"expected a BOUNDED rewrite, got ${survivors.size} of ${v1Files.size} untouched")
    val newPos = v3.filter(_.posDelete)
    assert(newPos.nonEmpty, "position deletes on surviving files must not vanish")
    assert(newPos.map(_.path).toSet.intersect(oldPos.map(_.path).toSet).isEmpty,
      "the spanning delete file must be REWRITTEN, not carried verbatim")
    assert(newPos.flatMap(_.stats.get("__rows")).map(_._1.toLong).sum == 3L,
      "the rewritten delete file holds exactly the 3 surviving positions")
    assert(ManifestTable.countStar(dir).contains(396L),
      "COUNT(*) must stay exact across the bounded CoW")
    // values: k=1/101/201/301 gone, the window bumped, everything else intact
    val expect = (1L to 400L).filterNot(k => k % 100 == 1)
      .map(k => if (k >= 2 && k <= 80) k + 1000 else k).sum
    assert(spark.sql("SELECT sum(v) FROM gcpd.ns.t2").head.getLong(0) == expect)
    assert(spark.sql("SELECT count(*) FROM gcpd.ns.t2").head.getLong(0) == 396L)
  }

  test("SQL DELETE on a position-delete-carrying snapshot routes to the row-level plan") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gcpd.ns.t3 (k BIGINT, v BIGINT)")
    (1L to 100L).map(k => (k, k)).toDF("k", "v").createOrReplaceTempView("cpd_src3")
    spark.sql("INSERT INTO gcpd.ns.t3 SELECT * FROM cpd_src3")           // v1
    val dir = s"$wh/ns/t3"
    ManifestTable.deleteWhere(spark, dir, col("k") <= 10L)               // v2
    // before the canDeleteWhere fix this statement died on
    // deleteWhereCow's "compact first" require — even though the group
    // row-level plan serves it
    spark.sql("DELETE FROM gcpd.ns.t3 WHERE k > 90")                     // v3
    assert(spark.sql("SELECT count(*) FROM gcpd.ns.t3").head.getLong(0) == 80L)
    assert(ManifestTable.countStar(dir).contains(80L))
    assert(spark.sql("SELECT sum(k) FROM gcpd.ns.t3").head.getLong(0) ==
      (11L to 90L).sum)
  }

  test("SQL DELETE and UPDATE on an EQUALITY-delete-carrying unkeyed snapshot") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gcpd.ns.t5 (k BIGINT, v BIGINT)")
    (1L to 100L).map(k => (k, k)).toDF("k", "v").createOrReplaceTempView("cpd_src5")
    spark.sql("INSERT INTO gcpd.ns.t5 SELECT * FROM cpd_src5")           // v1
    val dir = s"$wh/ns/t5"
    // library MERGE: equality-delete + re-insert (k=1..10 bumped +500)
    ManifestTable.merge(
      (1L to 10L).map(k => (k, k + 500)).toDF("k", "v"), dir, "k")       // v2
    assert(ManifestTable.sqlEntriesAt(dir, 2).exists(_.deleteKey.isDefined))
    // countStar honestly refuses under equality deletes (match
    // cardinality unknowable without IO)
    assert(ManifestTable.countStar(dir).isEmpty)
    // SQL DELETE routes to the row-level plan (the metadata path would
    // die on deleteWhereCow's delete-entry guard)
    spark.sql("DELETE FROM gcpd.ns.t5 WHERE k > 90")                     // v3
    assert(spark.sql("SELECT count(*) FROM gcpd.ns.t5").head.getLong(0) == 90L)
    // SQL UPDATE over the still-delete-carrying snapshot: the MoR scan
    // materializes the equality deletes in the rewrite; rewritten files
    // carry seq v so the old D| lines no longer apply to them
    spark.sql("UPDATE gcpd.ns.t5 SET v = v + 1000 WHERE k % 2 = 0")      // v4
    val expect = (1L to 90L).map { k =>
      val base = if (k <= 10) k + 500 else k
      if (k % 2 == 0) base + 1000 else base
    }.sum
    assert(spark.sql("SELECT sum(v) FROM gcpd.ns.t5").head.getLong(0) == expect)
    assert(spark.sql("SELECT count(*) FROM gcpd.ns.t5").head.getLong(0) == 90L)
    // time travel across all three mutations
    assert(spark.sql("SELECT count(*) FROM gcpd.ns.t5 VERSION AS OF 1")
      .head.getLong(0) == 100L)
    assert(spark.sql("SELECT sum(v) FROM gcpd.ns.t5 VERSION AS OF 2")
      .head.getLong(0) == (1L to 100L).sum + 10L * 500L)
  }

  test("reconcile batches: 20 spanning delete files → O(1) jobs, ONE merged rewrite") {
    import spark.implicits._
    wh: Unit
    spark.sql("""CREATE TABLE gcpd.ns.t6 (k BIGINT, v BIGINT)
                |TBLPROPERTIES('write.order'='k','write.order.partitions'='4')
                |""".stripMargin)
    (1L to 400L).map(k => (k, k)).toDF("k", "v").createOrReplaceTempView("cpd_src6")
    spark.sql("INSERT INTO gcpd.ns.t6 SELECT * FROM cpd_src6")           // v1
    val dir = s"$wh/ns/t6"
    val v1Files = ManifestTable.sqlEntriesAt(dir, 1).filter(_.isData).map(_.path)
    assert(v1Files.size == 4)
    // 20 SPANNING delete files: file i holds positions k = i, 100+i,
    // 200+i, 300+i — one row in each of the four range files
    val base = spark.read.parquet(v1Files: _*)
      .withColumn("file_path", col("_metadata.file_path"))
      .withColumn("pos", col("_metadata.row_index"))
    val pLines = (1 to 20).map { i =>
      val spanDir = s"$dir/data/commit-2/span$i"
      base.filter(col("k") % 100L === i.toLong)
        .select("file_path", "pos").coalesce(1).write.parquet(spanDir)
      val f = Option(new java.io.File(spanDir).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).head
      s"P|$f|__rows:4.0:4.0"
    }
    val v1Lines = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(dir, "_manifests", "v1.list"))
    ManifestTable.publish(dir, ManifestTable.Ref.Main, 2,
      ManifestTable.CommitPlan(ManifestTable.Base.Lines(
        (v1Lines.toArray(Array.empty[String]).toSeq ++ pLines).sorted))) // v2
    assert(ManifestTable.countStar(dir).contains(320L))

    // bounded CoW touching ONLY the first range file: every one of the
    // 20 delete files spans (1 dead ref + 3 live) → before the batch fix
    // this ran 20 sequential read jobs + 20 rewrite jobs inside the
    // commit; now it is ONE classify job + ONE merged rewrite
    spark.sparkContext.setJobGroup("cowpos_batch", "reconcile job count")
    spark.sql("UPDATE gcpd.ns.t6 SET v = v + 1000 WHERE k BETWEEN 30 AND 80") // v3
    spark.sparkContext.clearJobGroup()
    var jobs = Array.empty[Int]
    val deadline = System.nanoTime + 10e9.toLong
    while (jobs.length == 0 && System.nanoTime < deadline) {
      Thread.sleep(200)
      jobs = spark.sparkContext.statusTracker.getJobIdsForGroup("cowpos_batch")
    }
    assert(jobs.nonEmpty && jobs.length <= 12,
      s"reconcile must be O(1) jobs, the whole UPDATE ran ${jobs.length} " +
        "(the per-delete-file version ran 40+ here)")

    val v3 = ManifestTable.sqlEntriesAt(dir, 3)
    val newPos = v3.filter(_.posDelete)
    assert(newPos.size == 1,
      s"the 20 spanning files must merge into ONE rewritten delete file, got ${newPos.size}")
    assert(newPos.flatMap(_.stats.get("__rows")).map(_._1.toLong).sum == 60L,
      "the merged delete file holds exactly the 20×3 surviving positions")
    assert(ManifestTable.countStar(dir).contains(320L))
    // values: k ≡ 1..20 (mod 100) erased; the window bumped on survivors
    val expect = (1L to 400L).filterNot(k => (k % 100) >= 1 && (k % 100) <= 20)
      .map(k => if (k >= 30 && k <= 80) k + 1000 else k).sum
    assert(spark.sql("SELECT sum(v) FROM gcpd.ns.t6").head.getLong(0) == expect)
    assert(spark.sql("SELECT count(*) FROM gcpd.ns.t6").head.getLong(0) == 320L)
  }

  test("deleteWhere no-op leaves no orphan commit directory (ADVICE r11)") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gcpd.ns.t7 (k BIGINT, v BIGINT)")
    (1L to 50L).map(k => (k, k)).toDF("k", "v").createOrReplaceTempView("cpd_src7")
    spark.sql("INSERT INTO gcpd.ns.t7 SELECT * FROM cpd_src7")           // v1
    val dir = s"$wh/ns/t7"
    assert(ManifestTable.deleteWhere(spark, dir, col("k") > 999L) == 1,
      "a no-match delete must NO-OP at the prior version")
    // the zero-row parquet + _SUCCESS staged under data/commit-2 must be
    // cleaned up — that directory belongs to a future commit
    assert(!new java.io.File(s"$dir/data/commit-2").exists(),
      "no-op deleteWhere must remove its staged commit directory")
    spark.sql("INSERT INTO gcpd.ns.t7 VALUES (51, 51)")                  // v2 (real)
    assert(spark.sql("SELECT count(*) FROM gcpd.ns.t7").head.getLong(0) == 51L)
  }

  test("rewriteDeletes merges P| files only; equality deletes untouched; no-op skips the commit (r12)") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gcpd.ns.t8 (k BIGINT, v BIGINT)")
    (1L to 300L).map(k => (k, k)).toDF("k", "v").createOrReplaceTempView("cpd_src8")
    spark.sql("INSERT INTO gcpd.ns.t8 SELECT * FROM cpd_src8")           // v1
    val dir = s"$wh/ns/t8"
    ManifestTable.deleteWhere(spark, dir, col("k") % 50L === 0L)         // v2
    ManifestTable.deleteWhere(spark, dir, col("k") % 50L === 1L)         // v3
    // an EQUALITY delete chain on top (library MERGE): must be untouched
    ManifestTable.merge(
      (1L to 10L).map(k => (k, k + 500)).toDF("k", "v"), dir, "k")       // v4
    val e4 = ManifestTable.sqlEntriesAt(dir, 4)
    val (posBefore, eqBefore) =
      (e4.count(_.posDelete), e4.count(_.deleteKey.isDefined))
    assert(posBefore >= 2 && eqBefore >= 1)
    val (b, a) = ManifestTable.rewriteDeletes(spark, dir)                // v5
    assert(b == posBefore && a == 1, s"expected ($posBefore -> 1), got ($b, $a)")
    val e5 = ManifestTable.sqlEntriesAt(dir, 5)
    assert(e5.count(_.posDelete) == 1,
      "all position-delete files must merge into one")
    assert(e5.count(_.deleteKey.isDefined) == eqBefore,
      "equality-delete lines are sequence-scoped and must carry verbatim")
    // content identical to the model: 300 − 12 pos − 9 eq + 10 reinserts
    assert(spark.sql("SELECT count(*) FROM gcpd.ns.t8").head.getLong(0) == 289L)
    assert(spark.sql("SELECT sum(v) FROM gcpd.ns.t8").head.getLong(0) == 48345L)
    // time travel to the pre-merge snapshot survives
    assert(spark.sql("SELECT count(*) FROM gcpd.ns.t8 VERSION AS OF 4")
      .head.getLong(0) == 289L)
    // a second call is a NO-OP with no commit churn
    val v5 = ManifestTable.currentVersion(dir)
    assert(ManifestTable.rewriteDeletes(spark, dir) == ((1, 1)))
    assert(ManifestTable.currentVersion(dir) == v5)
    // the merge is dataChange=false: a change feed SPANNING it must not
    // refuse (one maintenance CALL must never break incremental
    // consumers) and the boundary itself contributes zero events —
    // the v1→v5 feed decomposes into exactly v2-v4's row changes
    // (ADVICE r12 medium)
    assert(ManifestTable.changeFeed(spark, dir, v5 - 1, v5).isEmpty,
      "rewriteDeletes must be feed-invisible")
    val spanning = ManifestTable.changeFeed(spark, dir, 1, v5)
    assert(spanning.filter(col("_change_type") === "delete").count() == 21L)
    assert(spanning.filter(col("_change_type") === "insert").count() == 10L)
  }

  test("bucketed CoW under position deletes reconciles P| lines AND keeps SPJ tags") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gcpd.ns.t4 (k BIGINT, v BIGINT) PARTITIONED BY (bucket(4, k))")
    (1L to 200L).map(k => (k, k)).toDF("k", "v").createOrReplaceTempView("cpd_src4")
    spark.sql("INSERT INTO gcpd.ns.t4 SELECT * FROM cpd_src4")           // v1
    val dir = s"$wh/ns/t4"
    ManifestTable.deleteWhere(spark, dir, col("k") <= 20L)               // v2
    spark.sql("UPDATE gcpd.ns.t4 SET v = v + 1 WHERE k % 2 = 0")         // v3: all buckets
    val es = ManifestTable.sqlEntriesAt(dir, 3)
    assert(!es.exists(_.posDelete),
      "the tagged CoW path must reconcile position deletes too")
    assert(es.filter(_.isData).forall(_.stats.contains("_ptn_bucket_k")),
      "replacement files must re-enter WITH their bucket tags")
    assert(ManifestTable.countStar(dir).contains(180L))
    val expect = (21L to 200L).map(k => if (k % 2 == 0) k + 1 else k).sum
    assert(spark.sql("SELECT sum(v) FROM gcpd.ns.t4").head.getLong(0) == expect)
  }

  test("CALL binpack on a bucketed table merges per bucket, re-tags, keeps content + feed silence (r13)") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gcpd.ns.t9 (k BIGINT, v BIGINT) PARTITIONED BY (bucket(4, k))")
    (1L to 400L).map(k => (k, k)).toDF("k", "v").createOrReplaceTempView("cpd_src9")
    spark.sql("INSERT INTO gcpd.ns.t9 SELECT * FROM cpd_src9")           // v1: 4 big bucket files
    spark.sql("INSERT INTO gcpd.ns.t9 VALUES (1001, 1), (1002, 2)")      // v2: tiny
    spark.sql("INSERT INTO gcpd.ns.t9 VALUES (1003, 3), (1004, 4)")      // v3: tiny
    val dir = s"$wh/ns/t9"
    val bigPaths = ManifestTable.filesTable(spark, dir)
      .filter(col("seq") === 1).select(col("path")).as[String].collect().toSet
    val smallBytes = bigPaths.map(p => new java.io.File(p).length()).min / 2
    val preV = ManifestTable.currentVersion(dir)
    val preSum = spark.sql("SELECT sum(v), count(*) FROM gcpd.ns.t9").head
    // the library-level verb still refuses the cross-bucket merge…
    intercept[IllegalArgumentException] {
      ManifestTable.compactSmall(spark, dir, smallBytes)
    }
    // …but the SQL procedure routes per bucket
    val bv = spark.sql(s"CALL gcpd.system.binpack('ns.t9', ${smallBytes}L)")
      .head.getLong(0)
    assert(bv == preV + 1)
    val es = ManifestTable.sqlEntriesAt(dir, bv.toInt)
    assert(es.filter(_.isData).forall(_.stats.contains("_ptn_bucket_k")),
      "every post-binpack data file must carry its SPJ bucket tag")
    val after = ManifestTable.filesTable(spark, dir)
    assert(after.filter(col("path").isin(bigPaths.toSeq: _*)).count() == 4,
      "big bucket files must carry verbatim")
    assert(after.count() <= 4 + 4,
      s"small files must merge to at most one per bucket, got ${after.count()}")
    assert(spark.sql("SELECT sum(v), count(*) FROM gcpd.ns.t9").head == preSum,
      "per-bucket binpack must not change table content")
    assert(ManifestTable.changeFeed(spark, dir, preV, bv.toInt).isEmpty,
      "per-bucket binpack must be feed-invisible")
    // a delete-carrying round: the MoR merge materializes the delete and
    // the merged outputs stay tagged
    ManifestTable.deleteWhere(spark, dir, col("k") === 1001L)
    spark.sql("INSERT INTO gcpd.ns.t9 VALUES (1005, 5), (1006, 6)")
    val pre2 = ManifestTable.currentVersion(dir)
    val bv2 = spark.sql(s"CALL gcpd.system.binpack('ns.t9', ${smallBytes}L)")
      .head.getLong(0)
    assert(bv2 == pre2 + 1)
    assert(ManifestTable.sqlEntriesAt(dir, bv2.toInt)
      .filter(_.isData).forall(_.stats.contains("_ptn_bucket_k")))
    assert(spark.sql("SELECT count(*) FROM gcpd.ns.t9 WHERE k = 1001")
      .head.getLong(0) == 0L, "the deleted row must stay deleted across the merge")
    assert(spark.sql("SELECT sum(v) FROM gcpd.ns.t9").head.getLong(0) ==
      (1L to 400L).sum + (2 + 3 + 4 + 5 + 6))
  }
}
