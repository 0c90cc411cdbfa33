package graft

import org.apache.spark.sql.functions._
import graft.sources.ManifestTable

/** SQL-catalog contracts (q348): CREATE/INSERT/SELECT/time-travel through
  * `GraftCatalog`, manifest-stats file pruning from SQL WHERE clauses, and
  * the honest refusals (delete entries, writes into pinned versions). */
class GraftCatalogSpec extends SparkSpec {

  private lazy val wh: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_catalog_spec")
    d.toFile.deleteOnExit()
    spark.conf.set("spark.sql.catalog.gtest", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtest.warehouse", d.toString)
    d.toString
  }

  test("create, insert, select, time travel, overwrite, drop — all through SQL") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.t (k BIGINT, tag STRING)")
    assert(spark.sql("SELECT * FROM gtest.ns.t").count() == 0) // empty, schema from DDL
    (1L to 10L).map(k => (k, "a")).toDF("k", "tag").createOrReplaceTempView("src_a")
    (11L to 15L).map(k => (k, "b")).toDF("k", "tag").createOrReplaceTempView("src_b")
    spark.sql("INSERT INTO gtest.ns.t SELECT * FROM src_a")
    spark.sql("INSERT INTO gtest.ns.t SELECT * FROM src_b")
    assert(spark.sql("SELECT count(*) FROM gtest.ns.t").head.getLong(0) == 15)
    assert(spark.sql("SELECT count(*) FROM gtest.ns.t VERSION AS OF 1")
      .head.getLong(0) == 10)
    assert(spark.sql("SELECT sum(k) FROM gtest.ns.t VERSION AS OF 2")
      .head.getLong(0) == (1L to 15L).sum)
    spark.sql("INSERT OVERWRITE gtest.ns.t SELECT * FROM src_b")
    assert(spark.sql("SELECT count(*) FROM gtest.ns.t").head.getLong(0) == 5)
    // history intact after the overwrite
    assert(spark.sql("SELECT count(*) FROM gtest.ns.t VERSION AS OF 2")
      .head.getLong(0) == 15)
    assert(spark.sql("SHOW TABLES IN gtest.ns").collect()
      .map(_.getString(1)).contains("t"))
    spark.sql("DROP TABLE gtest.ns.t")
    assert(!spark.catalog.tableExists("gtest.ns.t"))
  }

  test("WHERE conjuncts prune whole files against manifest stats before any footer is read") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.clustered (k BIGINT, bucket BIGINT)")
    (0L to 2L).foreach { b =>
      (b * 100L until (b + 1) * 100L).map(k => (k, b)).toDF("k", "bucket")
        .createOrReplaceTempView("src_c")
      spark.sql(
        "INSERT INTO gtest.ns.clustered SELECT /*+ REPARTITION(1) */ * FROM src_c")
    }
    val dir = s"$wh/ns/clustered"
    assert(ManifestTable.fileCount(dir) == 3)
    import graft.sources.v2.GraftCatalog.scannedFiles
    val q = spark.sql("SELECT sum(k) FROM gtest.ns.clustered WHERE k >= 120 AND k < 180")
    assert(scannedFiles(q).length == 1, "the k∈[120,180) window must keep 1 of 3 files")
    assert(q.head.getLong(0) == (120L until 180L).sum)
    // equality point lookup prunes too, and stays correct
    val p = spark.sql("SELECT bucket FROM gtest.ns.clustered WHERE k = 250")
    assert(scannedFiles(p).length == 1 && p.head.getLong(0) == 2L)
    // IN-list prunes by its [min,max] hull (r10 session 3): same-file
    // values keep one file; the residual filter keeps the rows exact
    val pin = spark.sql(
      "SELECT sum(k) FROM gtest.ns.clustered WHERE k IN (125, 130, 180)")
    assert(scannedFiles(pin).length == 1,
      s"IN-hull prune expected 1 file, got ${scannedFiles(pin).length}")
    assert(pin.head.getLong(0) == 125L + 130L + 180L)
    // null-safe equality prunes like equality
    val pns = spark.sql("SELECT bucket FROM gtest.ns.clustered WHERE k <=> 42")
    assert(scannedFiles(pns).length == 1 && pns.head.getLong(0) == 0L)
    // an unconstrained read scans everything
    assert(scannedFiles(spark.sql("SELECT * FROM gtest.ns.clustered")).length == 3)
  }

  test("TIMESTAMP AS OF resolves via manifest publish instants") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.tt (k BIGINT)")
    (1L to 10L).toDF("k").createOrReplaceTempView("src_t1")
    spark.sql("INSERT INTO gtest.ns.tt SELECT * FROM src_t1")
    Thread.sleep(1100) // second-granularity literal must separate v1/v2
    (11L to 15L).toDF("k").createOrReplaceTempView("src_t2")
    spark.sql("INSERT INTO gtest.ns.tt SELECT * FROM src_t2")
    val v1Millis = graft.sources.ManifestTable
      .versionTimestamps(s"$wh/ns/tt").find(_._1 == 1).get._2
    val lit = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .format(java.time.Instant.ofEpochMilli(v1Millis)
        .atZone(java.time.ZoneOffset.UTC))
    assert(spark.sql(
      s"SELECT count(*) FROM gtest.ns.tt TIMESTAMP AS OF '$lit'")
      .head.getLong(0) == 10)
    assert(spark.sql("SELECT count(*) FROM gtest.ns.tt").head.getLong(0) == 15)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM gtest.ns.tt TIMESTAMP AS OF '1990-01-01'").collect()
    }
    assert(e.getMessage.contains("no version at or before"), e.getMessage)
  }

  test("COUNT/MIN/MAX push down to parquet footers through the catalog") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.agg (k BIGINT)")
    (1L to 1000L).toDF("k").createOrReplaceTempView("src_agg")
    spark.sql("INSERT INTO gtest.ns.agg SELECT * FROM src_agg")
    spark.conf.set(org.apache.spark.sql.internal.SQLConf.PARQUET_AGGREGATE_PUSHDOWN_ENABLED.key, "true")
    try {
      val q = spark.sql("SELECT count(*), min(k), max(k) FROM gtest.ns.agg")
      val row = q.head
      assert((row.getLong(0), row.getLong(1), row.getLong(2)) == (1000L, 1L, 1000L))
      // the pushed aggregation shows NON-EMPTY in the scan description
      // (`contains("PushedAggregation")` alone matches the empty `[]` —
      // that weak assert hid a silently-OFF conf: Spark 4.1's key is
      // `spark.sql.parquet.aggregatePushdown`, lowercase 'down', so the
      // specs now set SQLConf.PARQUET_AGGREGATE_PUSHDOWN_ENABLED.key)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation: [COUNT"), plan.take(2000))
    } finally spark.conf.set(org.apache.spark.sql.internal.SQLConf.PARQUET_AGGREGATE_PUSHDOWN_ENABLED.key, "false")
  }

  test("write.order table property range-clusters every INSERT so stats prune automatically") {
    import spark.implicits._
    wh: Unit
    spark.sql(
      """CREATE TABLE gtest.ns.wo (k BIGINT, v BIGINT)
        |TBLPROPERTIES ('write.order'='k', 'write.order.partitions'='4')
        |""".stripMargin)
    // shuffled input, multiple partitions — the WRITE declares the range
    // distribution, not the query
    (0L until 400L).map(k => (k, k * 3)).sortBy(t => t._1 % 7)
      .toDF("k", "v").repartition(8).createOrReplaceTempView("src_wo")
    spark.sql("INSERT INTO gtest.ns.wo SELECT * FROM src_wo")
    val dir = s"$wh/ns/wo"
    val n = graft.sources.ManifestTable.fileCount(dir)
    assert(n > 1, s"range distribution should emit several files, got $n")
    import graft.sources.v2.GraftCatalog.scannedFiles
    val q = spark.sql("SELECT sum(v) FROM gtest.ns.wo WHERE k >= 10 AND k < 60")
    assert(scannedFiles(q).length < n,
      "a narrow range over a write-ordered table must prune files")
    assert(q.head.getLong(0) == (10L until 60L).map(_ * 3).sum)
    assert(spark.sql("SHOW TBLPROPERTIES gtest.ns.wo").collect()
      .exists(r => r.getString(0) == "write.order" && r.getString(1) == "k"))
    // declaring an order on a column outside the schema refuses
    intercept[Exception] {
      spark.sql(
        "CREATE TABLE gtest.ns.wo2 (k BIGINT) TBLPROPERTIES ('write.order'='nope')")
    }
  }

  test("branch read option and streaming startVersion through the catalog") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.br (k BIGINT)")
    (1L to 10L).toDF("k").createOrReplaceTempView("src_br")
    spark.sql("INSERT INTO gtest.ns.br SELECT * FROM src_br")
    val dir = s"$wh/ns/br"
    graft.sources.ManifestTable.createBranch(dir, "exp")
    graft.sources.ManifestTable.commitToBranch((11L to 15L).toDF("k"), dir, "exp")
    // main unchanged; the branch option reads the branch head
    assert(spark.read.table("gtest.ns.br").count() == 10)
    assert(spark.read.option("branch", "exp").table("gtest.ns.br").count() == 15)
    assert(spark.read.option("branch", "exp").table("gtest.ns.br")
      .agg(sum($"k")).head.getLong(0) == (1L to 15L).sum)
    // streaming startVersion: tail from v2 only
    (16L to 18L).toDF("k").createOrReplaceTempView("src_br2")
    spark.sql("INSERT INTO gtest.ns.br SELECT * FROM src_br2") // main v2
    val nm = "br_mem_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = spark.readStream.option("startVersion", "1").table("gtest.ns.br")
      .groupBy().agg(count(lit(1)).as("n"), sum($"k").as("sk"))
      .writeStream.format("memory").queryName(nm).outputMode("complete")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("br_ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val row = spark.table(nm).head
    assert((row.getLong(0), row.getLong(1)) == (3L, 51L),
      "startVersion=1 must stream only the v2 delta")
  }

  test("writeStream.toTable commits one version per epoch, exactly once under replay") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.ws (k BIGINT, tag STRING)")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "a"), (2L, "a"))
    val ckpt = java.nio.file.Files.createTempDirectory("ws_ck").toString
    def run() = {
      val q = mem.toDF().toDF("k", "tag").writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("gtest.ns.ws")
      q.awaitTermination(); q
    }
    run()
    val dir = s"$wh/ns/ws"
    assert(graft.sources.ManifestTable.currentVersion(dir) == 1)
    assert(spark.sql("SELECT count(*) FROM gtest.ns.ws").head.getLong(0) == 2)
    mem.addData((3L, "b"))
    run()
    assert(graft.sources.ManifestTable.currentVersion(dir) == 2)
    assert(spark.sql("SELECT sum(k) FROM gtest.ns.ws").head.getLong(0) == 6)
    // a fresh checkpoint replays the same epochs: the ledger recognizes
    // them and commits NOTHING
    val mem2 = MemoryStream[(Long, String)]
    mem2.addData((1L, "a"), (2L, "a"))
    val q3 = mem2.toDF().toDF("k", "tag").writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ws_ck2").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("gtest.ns.ws")
    q3.awaitTermination()
    assert(graft.sources.ManifestTable.currentVersion(dir) == 2,
      "a replayed epoch must commit nothing")
    assert(spark.sql("SELECT count(*) FROM gtest.ns.ws").head.getLong(0) == 3)
  }

  test("writeStream.toTable honors write.order: streamed epochs land range-clustered with prunable stats") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.wso (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('write.order'='k','write.order.partitions'='4')")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    mem.addData((1L to 200L).map(k => (k, k)): _*)
    val q = mem.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("wso_ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("gtest.ns.wso")
    q.awaitTermination()
    val dir = s"$wh/ns/wso"
    assert(ManifestTable.currentVersion(dir) == 1)
    val entries = ManifestTable.sqlEntriesAt(dir, 1).filter(_.isData)
    assert(entries.size >= 3,
      s"the declared clustering must range-split the epoch, got ${entries.size} files")
    // disjoint per-file ranges: the files sort into non-overlapping k windows
    val ranges = entries.flatMap(_.stats.get("k")).sortBy(_._1)
    assert(ranges.size == entries.size, "every streamed file must carry k stats")
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"streamed files must cover disjoint ranges: $ranges")
      case _ =>
    }
    // and the stats prune SQL point reads on the streamed table
    val probe = spark.sql("SELECT v FROM gtest.ns.wso WHERE k = 150")
    import graft.sources.v2.GraftCatalog.scannedFiles
    assert(scannedFiles(probe).size == 1 && probe.head.getLong(0) == 150)
  }

  test("writeStream.toTable into a days-partitioned table: epochs land one-day-per-file with prunable stats") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    wh: Unit
    spark.sql("""CREATE TABLE gtest.ns.wshp (ts TIMESTAMP, v BIGINT)
                |PARTITIONED BY (days(ts))""".stripMargin)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    // 5 days interleaved — the streamed epoch must regroup them per cell
    mem.addData((0 until 100).map { i =>
      (java.sql.Timestamp.valueOf(java.time.LocalDateTime
        .of(2010, 7, 1, 9, 0).plusDays(i % 5)), i.toLong)
    }: _*)
    val q = mem.toDF().toDF("ts", "v").writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("wshp_ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("gtest.ns.wshp")
    q.awaitTermination()
    val dir = s"$wh/ns/wshp"
    assert(ManifestTable.currentVersion(dir) == 1)
    val entries = ManifestTable.sqlEntriesAt(dir, 1).filter(_.isData)
    assert(entries.size == 5,
      s"one file per day cell expected, got ${entries.size}")
    // every streamed file is a single day cell
    entries.foreach { e =>
      val (lo, hi) = e.stats("_ptn_days_ts")
      assert(lo == hi, s"streamed file spans days [$lo,$hi] — not one cell")
    }
    // and a day-windowed SELECT on the streamed table prunes
    import graft.sources.v2.GraftCatalog.scannedFiles
    val probe = spark.sql("SELECT sum(v) FROM gtest.ns.wshp " +
      "WHERE ts >= TIMESTAMP '2010-07-02 00:00:00' " +
      "AND ts < TIMESTAMP '2010-07-03 00:00:00'")
    assert(scannedFiles(probe).size == 1 && probe.head.getLong(0) ==
      (0 until 100).filter(_ % 5 == 1).map(_.toLong).sum)
  }

  test("writeStream.toTable into a bucketed table: epochs land tagged, SPJ survives streaming ingest") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.wsspj (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    mem.addData((1L to 80L).map(k => (k, k * 3)): _*)
    val q = mem.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("wsspj_ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("gtest.ns.wsspj")
    q.awaitTermination()
    val dir = s"$wh/ns/wsspj"
    assert(ManifestTable.currentVersion(dir) == 1)
    val entries = ManifestTable.sqlEntriesAt(dir, 1).filter(_.isData)
    assert(entries.forall(_.stats.contains("_ptn_bucket_k")),
      "every streamed file must carry its bucket tag")
    assert(entries.map(_.stats("_ptn_bucket_k")._1.toInt).distinct.size == 4)
    assert(spark.sql("SELECT count(*) FROM gtest.ns.wsspj").head.getLong(0) == 80)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val qa = spark.sql("SELECT k, sum(v) AS s FROM gtest.ns.wsspj GROUP BY k")
      assert(qa.collect().length == 80)
      assert(!qa.queryExecution.executedPlan.toString.contains("Exchange"),
        "bucket-key aggregation over a streamed table must stay exchange-free")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("readStream.table streams catalog commits one micro-batch each; resume reads only the delta") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.st (k BIGINT, tag STRING)")
    def ins(lo: Long, hi: Long, tag: String): Unit = {
      (lo to hi).map(k => (k, tag)).toDF("k", "tag").createOrReplaceTempView("src_st")
      spark.sql("INSERT INTO gtest.ns.st SELECT * FROM src_st"): Unit
    }
    ins(1, 10, "a"); ins(11, 15, "b")
    val ckpt = java.nio.file.Files.createTempDirectory("st_ck").toString
    val nm = "st_mem_" + java.util.UUID.randomUUID.toString.replace("-", "")
    def run() = {
      val q = spark.readStream.table("gtest.ns.st")
        .groupBy($"tag").agg(count(lit(1)).as("n"), sum($"k").as("sk"))
        .writeStream.format("memory").queryName(nm).outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(); q
    }
    val q1 = run()
    assert(q1.recentProgress.count(_.numInputRows > 0) == 2,
      "two commits must stream as two micro-batches")
    assert(spark.table(nm).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
      Set(("a", 10L, 55L), ("b", 5L, 65L)))
    ins(16, 18, "c")
    val q2 = run()
    assert(q2.recentProgress.filter(_.numInputRows > 0).map(_.numInputRows).sum == 3,
      "the checkpointed resume must read only the new commit")
    assert(spark.table(nm).collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 10L), ("b", 5L), ("c", 3L)))
  }

  test("UPDATE and MERGE INTO run as group-based copy-on-write overwrite commits") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.rl (k BIGINT, v BIGINT)")
    (1L to 6L).map(k => (k, k * 10)).toDF("k", "v").createOrReplaceTempView("src_rl")
    spark.sql("INSERT INTO gtest.ns.rl SELECT * FROM src_rl")
    spark.sql("UPDATE gtest.ns.rl SET v = v + 1 WHERE k % 2 = 0")
    assert(spark.sql("SELECT sum(v) FROM gtest.ns.rl").head.getLong(0)
      == (1L to 6L).map(_ * 10).sum + 3)
    // the mutation is one overwrite commit; time travel crosses it
    assert(spark.sql("SELECT sum(v) FROM gtest.ns.rl VERSION AS OF 1")
      .head.getLong(0) == (1L to 6L).map(_ * 10).sum)
    Seq((5L, 500L), (9L, 900L)).toDF("k", "v").createOrReplaceTempView("src_m")
    spark.sql("""MERGE INTO gtest.ns.rl t USING src_m s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET v = s.v
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql("SELECT k, v FROM gtest.ns.rl ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq(1L -> 10L, 2L -> 21L, 3L -> 30L, 4L -> 41L,
      5L -> 500L, 6L -> 61L, 9L -> 900L))
    assert(graft.sources.ManifestTable.currentVersion(s"$wh/ns/rl") == 3)
  }

  test("ALTER TABLE ADD COLUMNS: old files read NULL, new inserts carry the column, no rewrite") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.evo (k BIGINT, tag STRING)")
    Seq((1L, "a"), (2L, "b")).toDF("k", "tag").createOrReplaceTempView("src_e1")
    spark.sql("INSERT INTO gtest.ns.evo SELECT * FROM src_e1")
    spark.sql("ALTER TABLE gtest.ns.evo ADD COLUMNS (score BIGINT)")
    // pre-evolution rows back-fill NULL without any rewrite
    assert(spark.sql("SELECT score FROM gtest.ns.evo").collect()
      .forall(_.isNullAt(0)))
    Seq((3L, "c", 77L)).toDF("k", "tag", "score").createOrReplaceTempView("src_e2")
    spark.sql("INSERT INTO gtest.ns.evo SELECT * FROM src_e2")
    val got = spark.sql(
      "SELECT k, coalesce(score, -1) FROM gtest.ns.evo ORDER BY k").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, -1L), (2L, -1L), (3L, 77L)))
    // duplicate add and unsupported changes refuse
    intercept[Exception] {
      spark.sql("ALTER TABLE gtest.ns.evo ADD COLUMNS (score BIGINT)")
    }
    intercept[Exception] { // type changes stay out of scope
      spark.sql("ALTER TABLE gtest.ns.evo ALTER COLUMN score TYPE STRING")
    }
    // DROP COLUMN is the metadata-tombstone path (full matrix in
    // DropColumnSpec)
    spark.sql("ALTER TABLE gtest.ns.evo DROP COLUMN tag")
    assert(spark.table("gtest.ns.evo").columns.toSeq == Seq("k", "score"))
  }

  test("DELETE FROM is copy-on-write and NULL-predicate rows survive; TRUNCATE empties, history intact") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.d (k BIGINT, tag STRING)")
    Seq((1L, "a"), (2L, null), (3L, "b"), (4L, "a"))
      .toDF("k", "tag").createOrReplaceTempView("src_d")
    spark.sql("INSERT INTO gtest.ns.d SELECT * FROM src_d")
    spark.sql("DELETE FROM gtest.ns.d WHERE tag = 'a'")
    // SQL DELETE semantics: predicate NULL (k=2's tag) keeps the row
    assert(spark.sql("SELECT k FROM gtest.ns.d ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 3L))
    // post-delete snapshot carries no delete entries — SELECT just works,
    // and time travel crosses the delete
    assert(spark.sql("SELECT count(*) FROM gtest.ns.d VERSION AS OF 1")
      .head.getLong(0) == 4)
    spark.sql("TRUNCATE TABLE gtest.ns.d")
    assert(spark.sql("SELECT count(*) FROM gtest.ns.d").head.getLong(0) == 0)
    assert(spark.sql("SELECT count(*) FROM gtest.ns.d VERSION AS OF 2")
      .head.getLong(0) == 2)
  }

  test("equality deletes serve via merge-on-read; position deletes refuse; pinned versions refuse writes") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.refusals (k BIGINT, tag STRING)")
    (1L to 10L).map(k => (k, "x")).toDF("k", "tag").createOrReplaceTempView("src_r")
    spark.sql("INSERT INTO gtest.ns.refusals SELECT * FROM src_r")
    val dir = s"$wh/ns/refusals"
    // library equality delete: SQL now serves the snapshot merge-on-read
    // (r10 — the r9 face refused every delete shape)
    ManifestTable.delete(Seq(3L).toDF("k"), dir, "k")
    assert(spark.sql("SELECT count(*) FROM gtest.ns.refusals").head.getLong(0) == 9)
    assert(spark.sql("SELECT * FROM gtest.ns.refusals WHERE k = 3").count() == 0)
    // MIXED position+equality chains serve too (r10 session 3 — the
    // last delete shape the face refused): drop-if-either, exactly the
    // library's assemble semantics
    ManifestTable.deleteWhere(spark, dir, col("k") === 5L)
    assert(spark.sql("SELECT count(*) FROM gtest.ns.refusals").head.getLong(0) == 8)
    assert(spark.sql("SELECT sum(k) FROM gtest.ns.refusals").head.getLong(0) ==
      (1L to 10L).sum - 3 - 5)
    assert(spark.sql("SELECT * FROM gtest.ns.refusals WHERE k IN (3, 5)").count() == 0)
    ManifestTable.compact(spark, dir, 1)
    assert(spark.sql("SELECT count(*) FROM gtest.ns.refusals").head.getLong(0) == 8)
    val w = intercept[Exception] {
      spark.sql("INSERT INTO gtest.ns.refusals VERSION AS OF 1 SELECT * FROM src_r")
    }
    assert(w != null) // parser or analysis must refuse a pinned-version write
  }

  test("keyed table: SQL UPDATE/MERGE/DELETE land as O(delta) commits; merge-on-read SELECT serves them") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.kd (k BIGINT, v BIGINT, tag STRING) " +
      "TBLPROPERTIES('write.key'='k')")
    (1L to 10L).map(k => (k, k * 10, s"t$k")).toDF("k", "v", "tag")
      .createOrReplaceTempView("src_kd")
    spark.sql("INSERT INTO gtest.ns.kd SELECT /*+ REPARTITION(4) */ * FROM src_kd")
    val dir = s"$wh/ns/kd"
    val dataFilesV1 = ManifestTable.read(spark, dir, 1).inputFiles.toSet
    assert(dataFilesV1.size >= 2) // several files, so "no rewrite" is meaningful

    // UPDATE: one delta commit — every v1 data file still referenced
    // verbatim (zero rewrites), plus a delete file + a replacement file
    spark.sql("UPDATE gtest.ns.kd SET v = v + 100 WHERE k IN (2, 4)")
    assert(ManifestTable.currentVersion(dir) == 2)
    val v2 = spark.sql("SELECT k, v FROM gtest.ns.kd ORDER BY k").collect()
    assert(v2.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (1L to 10L).map(k => (k, if (k == 2 || k == 4) k * 10 + 100 else k * 10)))
    val v2files = ManifestTable.read(spark, dir, 2).inputFiles.toSet
    assert(dataFilesV1.subsetOf(v2files),
      "delta UPDATE must keep every prior data file un-rewritten")
    // aggregates stay correct under merge-on-read (pushdown refused)
    assert(spark.sql("SELECT count(*) FROM gtest.ns.kd").head.getLong(0) == 10)
    assert(spark.sql("SELECT sum(v) FROM gtest.ns.kd").head.getLong(0) ==
      (1L to 10L).map(_ * 10).sum + 200)

    // MERGE: matched update + unmatched insert in ONE commit
    Seq((2L, 999L, "m2"), (11L, 110L, "m11")).toDF("k", "v", "tag")
      .createOrReplaceTempView("src_m2")
    spark.sql("""MERGE INTO gtest.ns.kd t USING src_m2 s ON t.k = s.k
                 WHEN MATCHED THEN UPDATE SET *
                 WHEN NOT MATCHED THEN INSERT *""")
    assert(ManifestTable.currentVersion(dir) == 3)
    assert(spark.sql("SELECT v FROM gtest.ns.kd WHERE k = 2").head.getLong(0) == 999)
    assert(spark.sql("SELECT count(*) FROM gtest.ns.kd").head.getLong(0) == 11)

    // DELETE routes through the delta path too (no copy-on-write)
    spark.sql("DELETE FROM gtest.ns.kd WHERE k = 1")
    assert(ManifestTable.currentVersion(dir) == 4)
    assert(spark.sql("SELECT count(*) FROM gtest.ns.kd").head.getLong(0) == 10)
    assert(dataFilesV1.subsetOf(ManifestTable.read(spark, dir, 4).inputFiles.toSet))

    // sequence scoping: re-inserting a deleted key survives the earlier delete
    Seq((1L, 1000L, "reborn")).toDF("k", "v", "tag").createOrReplaceTempView("src_re")
    spark.sql("INSERT INTO gtest.ns.kd SELECT * FROM src_re")
    val re = spark.sql("SELECT v, tag FROM gtest.ns.kd WHERE k = 1").collect()
    assert(re.length == 1 && re(0).getLong(0) == 1000 && re(0).getString(1) == "reborn")

    // time travel crosses every mutation
    assert(spark.sql("SELECT count(*) FROM gtest.ns.kd VERSION AS OF 1")
      .head.getLong(0) == 10)
    assert(spark.sql("SELECT v FROM gtest.ns.kd VERSION AS OF 2 WHERE k = 2")
      .head.getLong(0) == 120)
    assert(spark.sql("SELECT count(*) FROM gtest.ns.kd VERSION AS OF 4")
      .head.getLong(0) == 10)

    // the library read agrees with the SQL merge-on-read scan
    val lib = ManifestTable.read(spark, dir).select($"k", $"v")
      .as[(Long, Long)].collect().sorted.toSeq
    val sqlr = spark.sql("SELECT k, v FROM gtest.ns.kd").as[(Long, Long)]
      .collect().sorted.toSeq
    assert(lib == sqlr)

    // WHERE pruning still bounds the merge-on-read scan's file set
    val pruned = graft.sources.v2.GraftCatalog.scannedFiles(
      spark.sql("SELECT * FROM gtest.ns.kd WHERE k = 999"))
    assert(pruned.size < ManifestTable.read(spark, dir).inputFiles.length,
      "stats pruning must survive the MoR scan path")
  }

  test("compacting a delta-mutated keyed table restores footer-aggregate pushdown; results identical") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.kd2 (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('write.key'='k')")
    (1L to 20L).map(k => (k, k)).toDF("k", "v").createOrReplaceTempView("src_kd2")
    spark.sql("INSERT INTO gtest.ns.kd2 SELECT * FROM src_kd2")
    spark.sql("UPDATE gtest.ns.kd2 SET v = 0 WHERE k <= 5")
    val before = spark.sql("SELECT k, v FROM gtest.ns.kd2").as[(Long, Long)]
      .collect().sorted.toSeq
    val dir = s"$wh/ns/kd2"
    ManifestTable.compact(spark, dir, 2)
    val after = spark.sql("SELECT k, v FROM gtest.ns.kd2").as[(Long, Long)]
      .collect().sorted.toSeq
    assert(before == after)
    assert(before.filter(_._1 <= 5).forall(_._2 == 0L))
  }

  test("group copy-on-write UPDATE is stats-bounded: unmatched files survive un-rewritten") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.gcow (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('write.order'='k','write.order.partitions'='4')")
    (1L to 400L).map(k => (k, k)).toDF("k", "v").createOrReplaceTempView("src_gcow")
    spark.sql("INSERT INTO gtest.ns.gcow SELECT * FROM src_gcow")
    val dir = s"$wh/ns/gcow"
    val v1Files = ManifestTable.sqlEntriesAt(dir, 1).filter(_.isData).map(_.path)
    assert(v1Files.size >= 3, s"need a clustered multi-file base, got ${v1Files.size}")
    // condition bounded to one k-range: the scan planning rule pushes it,
    // the manifest prunes to the overlapping file(s), and the commit
    // replaces ONLY those — before r10 this rewrote all files
    spark.sql("UPDATE gtest.ns.gcow SET v = 0 WHERE k BETWEEN 10 AND 20")
    assert(ManifestTable.currentVersion(dir) == 2)
    val v2Files = ManifestTable.sqlEntriesAt(dir, 2).filter(_.isData).map(_.path)
    val survivors = v1Files.toSet.intersect(v2Files.toSet)
    assert(survivors.nonEmpty && survivors.size < v1Files.size,
      s"bounded rewrite expected: ${survivors.size} survivors of ${v1Files.size}")
    // results exact
    assert(spark.sql("SELECT sum(v) FROM gtest.ns.gcow").head.getLong(0) ==
      (1L to 400L).sum - (10L to 20L).sum)
    assert(spark.sql("SELECT count(*) FROM gtest.ns.gcow").head.getLong(0) == 400)
    // time travel across the bounded mutation
    assert(spark.sql("SELECT sum(v) FROM gtest.ns.gcow VERSION AS OF 1")
      .head.getLong(0) == (1L to 400L).sum)
    // an unprunable condition still degenerates to the full rewrite, correctly
    spark.sql("UPDATE gtest.ns.gcow SET v = v + 1 WHERE k % 2 = 0")
    assert(spark.sql("SELECT sum(v) FROM gtest.ns.gcow").head.getLong(0) ==
      (1L to 400L).sum - (10L to 20L).sum + 200)
  }

  test("star-join SELECT: the fact scan's file set shrinks at runtime from the dim filter (DPP)") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.fact (k BIGINT, amt BIGINT) " +
      "TBLPROPERTIES('write.order'='k','write.order.partitions'='8')")
    (1L to 800L).map(k => (k, k * 3)).toDF("k", "amt")
      .createOrReplaceTempView("src_fact")
    spark.sql("INSERT INTO gtest.ns.fact SELECT * FROM src_fact")
    spark.sql("CREATE TABLE gtest.ns.dim (k BIGINT, grp STRING)")
    (1L to 800L by 50).map(k => (k, if (k < 100) "hot" else "cold"))
      .toDF("k", "grp").createOrReplaceTempView("src_dim")
    spark.sql("INSERT INTO gtest.ns.dim SELECT * FROM src_dim")
    val dir = s"$wh/ns/fact"
    val total = ManifestTable.sqlEntriesAt(dir, 1).count(_.isData)
    assert(total >= 6, s"need a clustered multi-file fact, got $total")
    graft.sources.v2.GraftTrackedScan.runtimeLog.clear()
    // AQE off: an onlyInBroadcast DPP subquery races AQE stage scheduling
    // (see q366) — the non-adaptive planner reuses the broadcast
    // deterministically
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val r = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.sql(
        """SELECT /*+ BROADCAST(d) */ sum(f.amt) AS s, count(*) AS n
          |FROM gtest.ns.fact f JOIN gtest.ns.dim d ON f.k = d.k
          |WHERE d.grp = 'hot'""".stripMargin).collect()
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    // correctness: hot dim keys are 1 and 51
    assert(r(0).getLong(0) == (1L + 51L) * 3 && r(0).getLong(1) == 2)
    val log = graft.sources.v2.GraftTrackedScan.runtimeLog.get("ns.fact")
    assert(log != null, "runtime filter must reach the fact scan")
    val (before, after) = (log._1, log._2)
    assert(after < before,
      s"DPP must shrink the fact file set at runtime: $after of $before")
  }

  test("branch writes via .option('branch'): append lands on the branch, main untouched, ff completes the loop") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.bw (k BIGINT, v BIGINT)")
    (1L to 6L).map(k => (k, k)).toDF("k", "v").createOrReplaceTempView("src_bw")
    spark.sql("INSERT INTO gtest.ns.bw SELECT * FROM src_bw")
    val dir = s"$wh/ns/bw"
    ManifestTable.createBranch(dir, "exp")
    // the write half of the branch surface, pure DataFrame API
    (7L to 9L).map(k => (k, k * 100)).toDF("k", "v")
      .writeTo("gtest.ns.bw").option("branch", "exp").append()
    assert(ManifestTable.branchVersion(dir, "exp") == 2)
    assert(ManifestTable.currentVersion(dir) == 1) // main untouched
    assert(spark.sql("SELECT count(*) FROM gtest.ns.bw").head.getLong(0) == 6)
    // the read half sees the branch append (catalog reader option)
    assert(spark.read.option("branch", "exp").table("gtest.ns.bw").count() == 9)
    assert(ManifestTable.readBranch(spark, dir, "exp").count() == 9)
    // a second branch append composes
    Seq((10L, 1000L)).toDF("k", "v")
      .writeTo("gtest.ns.bw").option("branch", "exp").append()
    assert(ManifestTable.readBranch(spark, dir, "exp").count() == 10)
    // writing to a nonexistent branch refuses loudly
    intercept[Exception] {
      Seq((99L, 0L)).toDF("k", "v")
        .writeTo("gtest.ns.bw").option("branch", "ghost").append()
    }
    // fast-forward publishes the branch lineage onto main
    ManifestTable.fastForward(dir, "exp")
    assert(spark.sql("SELECT count(*) FROM gtest.ns.bw").head.getLong(0) == 10)
    assert(spark.sql("SELECT sum(v) FROM gtest.ns.bw WHERE k >= 7").head.getLong(0)
      == 700 + 800 + 900 + 1000)
  }

  test("publish instants are durable: TIMESTAMP AS OF survives a table copy (mtimes do not)") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.ti (k BIGINT)")
    Seq(1L, 2L).toDF("k").createOrReplaceTempView("src_ti1")
    spark.sql("INSERT INTO gtest.ns.ti SELECT * FROM src_ti1")
    Thread.sleep(1100)
    val mid = java.time.LocalDateTime.now()
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    Thread.sleep(1100)
    Seq(3L, 4L, 5L).toDF("k").createOrReplaceTempView("src_ti2")
    spark.sql("INSERT INTO gtest.ns.ti SELECT * FROM src_ti2")
    assert(spark.sql(s"SELECT count(*) FROM gtest.ns.ti TIMESTAMP AS OF '$mid'")
      .head.getLong(0) == 2)
    // copy the table byte-for-byte; manifest mtimes become "now"
    val dir = java.nio.file.Paths.get(s"$wh/ns/ti")
    val cdir = java.nio.file.Paths.get(s"$wh/ns/ti_copy")
    java.nio.file.Files.walk(dir).forEach { p =>
      val t = cdir.resolve(dir.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else { java.nio.file.Files.copy(p, t): Unit }
    }
    // with mtime-based resolution every copied version would look
    // published "now" and the mid-instant read would find nothing; the
    // v<N>.ts sidecars keep the original instants
    assert(spark.sql(s"SELECT count(*) FROM gtest.ns.ti_copy TIMESTAMP AS OF '$mid'")
      .head.getLong(0) == 2)
  }

  test("CALL graft.system.{compact,expire,vacuum}: maintenance verbs through SQL with summary rows") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.pt (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('write.key'='k')")
    (1L to 20L).map(k => (k, k)).toDF("k", "v").createOrReplaceTempView("src_pt")
    spark.sql("INSERT INTO gtest.ns.pt SELECT * FROM src_pt")
    spark.sql("UPDATE gtest.ns.pt SET v = 0 WHERE k <= 3") // delta commit (v2)
    val dir = s"$wh/ns/pt"
    assert(ManifestTable.sqlEntriesAt(dir, 2).exists(_.deleteKey.isDefined))
    // compact materializes the merge-on-read state → summary row = new version
    val cv = spark.sql("CALL gtest.system.compact('ns.pt', 2)").head.getLong(0)
    assert(cv == 3)
    assert(!ManifestTable.sqlEntriesAt(dir, 3).exists(_.deleteKey.isDefined))
    assert(spark.sql("SELECT sum(v) FROM gtest.ns.pt").head.getLong(0) ==
      (4L to 20L).sum)
    // expire keeps the head only; reclaim counts surface in the row
    val er = spark.sql("CALL gtest.system.expire('ns.pt', 1)").head
    assert(er.getLong(0) == 2) // two historical versions dropped
    // vacuum with zero grace returns counts (no orphans here)
    val vr = spark.sql("CALL gtest.system.vacuum('ns.pt', 0L)").head
    assert(vr.getLong(0) >= 0)
    assert(spark.sql("SELECT count(*) FROM gtest.ns.pt").head.getLong(0) == 20)
    // unknown procedure refuses loudly
    intercept[Exception] { spark.sql("CALL gtest.system.nope('ns.pt')") }
  }

  test("CALL graft.system.{binpack,clone,sync_clone,cherry_pick,expire_before}: r12 verbs through SQL") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.cv (k BIGINT, v BIGINT)")
    (1L to 12L).map(k => (k, k)).toDF("k", "v").createOrReplaceTempView("src_cv")
    spark.sql("INSERT INTO gtest.ns.cv SELECT * FROM src_cv")
    spark.sql("INSERT INTO gtest.ns.cv VALUES (100, 100)")   // v2 tiny
    spark.sql("INSERT INTO gtest.ns.cv VALUES (101, 101)")   // v3 tiny
    val dir = s"$wh/ns/cv"
    // binpack: everything is sub-threshold here → all files merge
    val bv = spark.sql("CALL gtest.system.binpack('ns.cv', 1048576L)")
      .head.getLong(0)
    assert(bv == 4)
    assert(ManifestTable.filesTable(spark, dir).count() == 1)
    assert(spark.sql("SELECT count(*) FROM gtest.ns.cv").head.getLong(0) == 14)
    // clone + tracked catch-up, both through SQL; the clone reads
    // through the catalog like any table
    spark.sql("CALL gtest.system.clone('ns.cv', 'ns.cv_copy')").collect()
    assert(spark.sql("SELECT count(*) FROM gtest.ns.cv_copy").head.getLong(0) == 14)
    spark.sql("INSERT INTO gtest.ns.cv VALUES (200, 200)")
    spark.sql("CALL gtest.system.sync_clone('ns.cv_copy', 'k')").collect()
    assert(spark.sql("SELECT count(*) FROM gtest.ns.cv_copy").head.getLong(0) == 15)
    assert(spark.sql("SELECT count(*) FROM gtest.ns.cv_copy WHERE k = 200")
      .head.getLong(0) == 1)
    // cherry-pick: a branch append re-lands although main moved past it
    val fork = spark.sql("CALL gtest.system.create_branch('ns.cv', 'exp')")
      .head.getLong(0).toInt
    ManifestTable.commitToBranch(Seq((300L, 300L)).toDF("k", "v"), dir, "exp")
    spark.sql("INSERT INTO gtest.ns.cv VALUES (201, 201)")   // main diverges
    intercept[Exception] {
      spark.sql("CALL gtest.system.fast_forward('ns.cv', 'exp')").collect()
    }
    spark.sql(s"CALL gtest.system.cherry_pick('ns.cv', 'exp', ${fork + 1})")
      .collect()
    assert(spark.sql("SELECT count(*) FROM gtest.ns.cv WHERE k = 300")
      .head.getLong(0) == 1)
    // age-based retention: a beyond-everything horizon keeps the head only
    val er = spark.sql(
      s"CALL gtest.system.expire_before('ns.cv', ${Long.MaxValue}L)").head
    assert(er.getLong(0) >= 1)
    intercept[Exception] {
      spark.sql("SELECT count(*) FROM gtest.ns.cv VERSION AS OF 1").collect()
    }
    assert(spark.sql("SELECT count(*) FROM gtest.ns.cv").head.getLong(0) == 17)
    ()
  }

  test("CALL graft.system.rollback: a bad commit undoes as a new head, history intact") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.rb (k BIGINT)")
    Seq(1L, 2L, 3L).toDF("k").createOrReplaceTempView("src_rb")
    spark.sql("INSERT INTO gtest.ns.rb SELECT * FROM src_rb")
    Seq(100L, 200L).toDF("k").createOrReplaceTempView("src_rb2")
    spark.sql("INSERT INTO gtest.ns.rb SELECT * FROM src_rb2") // the "bad" commit
    assert(spark.sql("SELECT sum(k) FROM gtest.ns.rb").head.getLong(0) == 306)
    val hv = spark.sql("CALL gtest.system.rollback('ns.rb', 1)").head.getLong(0)
    assert(hv == 3, s"rollback must publish a NEW head, got v$hv")
    // head state == v1 state; the bad commit stays time-travelable
    assert(spark.sql("SELECT sum(k) FROM gtest.ns.rb").head.getLong(0) == 6)
    assert(spark.sql("SELECT sum(k) FROM gtest.ns.rb VERSION AS OF 2")
      .head.getLong(0) == 306)
    // appends continue normally on the restored head
    spark.sql("INSERT INTO gtest.ns.rb SELECT * FROM src_rb2")
    assert(spark.sql("SELECT sum(k) FROM gtest.ns.rb").head.getLong(0) == 306)
  }

  test("composite write.key: delta UPDATE/MERGE/DELETE on a two-column row identifier") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.ck (ok BIGINT, ln BIGINT, v BIGINT) " +
      "TBLPROPERTIES('write.key'='ok,ln')")
    val rows = for (o <- 1L to 5L; l <- 1L to 4L) yield (o, l, o * 100 + l)
    rows.toDF("ok", "ln", "v").createOrReplaceTempView("src_ck")
    spark.sql("INSERT INTO gtest.ns.ck SELECT /*+ REPARTITION(3) */ * FROM src_ck")
    val dir = s"$wh/ns/ck"
    val baseFiles = ManifestTable.sqlEntriesAt(dir, 1).filter(_.isData).map(_.path).toSet

    // UPDATE touches exactly the (ok, ln) pairs matching the predicate
    spark.sql("UPDATE gtest.ns.ck SET v = 0 WHERE ok = 2 AND ln >= 3")
    assert(ManifestTable.currentVersion(dir) == 2)
    assert(ManifestTable.sqlEntriesAt(dir, 2)
      .exists(_.deleteKey.contains("ok,ln")), "composite delete entry expected")
    assert(baseFiles.subsetOf(
      ManifestTable.sqlEntriesAt(dir, 2).filter(_.isData).map(_.path).toSet))
    assert(spark.sql("SELECT sum(v) FROM gtest.ns.ck").head.getLong(0) ==
      rows.map(_._3).sum - (203 + 204))
    // same ok with OTHER line numbers untouched — the composite key is
    // the identity, not its first column
    assert(spark.sql("SELECT v FROM gtest.ns.ck WHERE ok = 2 AND ln = 1")
      .head.getLong(0) == 201)

    // MERGE on both key columns: one matched update, one insert
    Seq((3L, 2L, 9999L), (6L, 1L, 601L)).toDF("ok", "ln", "v")
      .createOrReplaceTempView("src_ckm")
    spark.sql("""MERGE INTO gtest.ns.ck t USING src_ckm s
                |ON t.ok = s.ok AND t.ln = s.ln
                |WHEN MATCHED THEN UPDATE SET v = s.v
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT v FROM gtest.ns.ck WHERE ok = 3 AND ln = 2")
      .head.getLong(0) == 9999)
    assert(spark.sql("SELECT count(*) FROM gtest.ns.ck").head.getLong(0) == 21)

    // DELETE by a predicate that spans both columns
    spark.sql("DELETE FROM gtest.ns.ck WHERE ok = 1 AND ln <= 2")
    assert(spark.sql("SELECT count(*) FROM gtest.ns.ck").head.getLong(0) == 19)
    // the library merge-on-read read agrees with the SQL scan
    val lib = ManifestTable.read(spark, dir).select($"ok", $"ln", $"v")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val sqlr = spark.sql("SELECT ok, ln, v FROM gtest.ns.ck")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(lib == sqlr)
    // change feed reconstructs composite delete events
    val feed = ManifestTable.changeFeed(spark, dir, 3, 4)
    val delEvents = feed.filter($"_change_type" === "delete")
      .select($"ok", $"ln").as[(Long, Long)].collect().sorted.toSeq
    assert(delEvents == Seq((1L, 1L), (1L, 2L)))
    // time travel across all three mutations
    assert(spark.sql("SELECT count(*) FROM gtest.ns.ck VERSION AS OF 1")
      .head.getLong(0) == 20)
  }

  test("write.target-file-size: inserts bin-pack toward the declared size") {
    import spark.implicits._
    wh: Unit
    // ~1.5 MB of rows, 30 KB target → many right-sized files; the control
    // table without the property coalesces to few large files under AQE
    spark.sql("CREATE TABLE gtest.ns.tfs (k BIGINT, pad STRING) " +
      "TBLPROPERTIES('write.target-file-size'='30000')")
    spark.sql("CREATE TABLE gtest.ns.tfs0 (k BIGINT, pad STRING)")
    // incompressible padding so parquet sizes track the row volume
    val wide = (1L to 20000L).map(k =>
      (k, java.security.MessageDigest.getInstance("MD5")
        .digest(k.toString.getBytes).map(b => f"$b%02x").mkString * 2))
      .toDF("k", "pad")
    wide.createOrReplaceTempView("src_tfs")
    spark.sql("INSERT INTO gtest.ns.tfs SELECT /*+ REPARTITION(2) */ * FROM src_tfs")
    spark.sql("INSERT INTO gtest.ns.tfs0 SELECT /*+ REPARTITION(2) */ * FROM src_tfs")
    def files(t: String): Seq[java.nio.file.Path] = {
      val dir = s"$wh/ns/$t"
      ManifestTable.sqlEntriesAt(dir, 1).filter(_.isData)
        .map(e => java.nio.file.Paths.get(e.path))
    }
    val sized = files("tfs")
    val control = files("tfs0")
    assert(sized.size > control.size,
      s"advisory sizing must split toward the target: ${sized.size} vs ${control.size}")
    // every sized file is within a loose band of the target (parquet
    // encodes the padding away, so assert the ordering property, not
    // exact bytes: no file dwarfs the target by the control's ratio)
    val maxSized = sized.map(java.nio.file.Files.size).max
    val maxControl = control.map(java.nio.file.Files.size).max
    assert(maxSized < maxControl,
      s"largest sized file $maxSized must undercut the control's $maxControl")
    assert(spark.sql("SELECT count(*) FROM gtest.ns.tfs").head.getLong(0) == 20000)
  }

  test("ALTER TABLE RENAME: a metadata move — reads, time travel, branches survive") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.rn_a (k BIGINT)")
    Seq(1L, 2L, 3L).toDF("k").createOrReplaceTempView("src_rn")
    spark.sql("INSERT INTO gtest.ns.rn_a SELECT * FROM src_rn")
    Seq(4L, 5L).toDF("k").createOrReplaceTempView("src_rn2")
    spark.sql("INSERT INTO gtest.ns.rn_a SELECT * FROM src_rn2")
    ManifestTable.createBranch(s"$wh/ns/rn_a", "exp")
    Seq(9L).toDF("k").writeTo("gtest.ns.rn_a").option("branch", "exp").append()
    spark.sql("ALTER TABLE gtest.ns.rn_a RENAME TO ns.rn_b")
    assert(!spark.catalog.tableExists("gtest.ns.rn_a"))
    assert(spark.sql("SELECT sum(k) FROM gtest.ns.rn_b").head.getLong(0) == 15)
    // time travel crosses the rename (manifest paths were rewritten)
    assert(spark.sql("SELECT count(*) FROM gtest.ns.rn_b VERSION AS OF 1")
      .head.getLong(0) == 3)
    // branch manifests were rewritten too
    assert(ManifestTable.readBranch(spark, s"$wh/ns/rn_b", "exp").count() == 6)
    // renaming onto an existing table refuses
    spark.sql("CREATE TABLE gtest.ns.rn_c (k BIGINT)")
    intercept[Exception] {
      spark.sql("ALTER TABLE gtest.ns.rn_b RENAME TO ns.rn_c")
    }
  }

  test("storage-partitioned join: co-bucketed tables join with ZERO exchanges") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.spj_f (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    spark.sql("CREATE TABLE gtest.ns.spj_d (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    (1L to 400L).map(k => (k, k * 2)).toDF("k", "v").createOrReplaceTempView("src_sf")
    (1L to 400L by 3).map(k => (k, k * 5)).toDF("k", "w").createOrReplaceTempView("src_sd")
    spark.sql("INSERT INTO gtest.ns.spj_f SELECT * FROM src_sf")
    spark.sql("INSERT INTO gtest.ns.spj_d SELECT * FROM src_sd")
    // every staged file carries exactly one bucket tag
    val fdir = s"$wh/ns/spj_f"
    val tags = ManifestTable.sqlEntriesAt(fdir, 1).filter(_.isData)
      .map(_.stats.get("_ptn_bucket_k"))
    assert(tags.forall(_.isDefined) && tags.flatten.forall(t => t._1 == t._2))
    assert(tags.flatten.map(_._1.toInt).distinct.size == 8)

    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force non-broadcast
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val q = spark.sql(
        """SELECT f.k, f.v, d.w FROM gtest.ns.spj_f f
          |JOIN gtest.ns.spj_d d ON f.k = d.k""".stripMargin)
      val rows = q.collect()
      assert(rows.length == (1L to 400L by 3).size)
      assert(rows.forall(r => r.getLong(1) == r.getLong(0) * 2 &&
        r.getLong(2) == r.getLong(0) * 5))
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed SPJ must plan ZERO exchanges:\n${plan.take(3000)}")
      // GROUP BY on the bucket key is exchange-free too: the reported
      // partitioning satisfies the aggregation's clustering
      val qa = spark.sql("SELECT k, sum(v) AS s FROM gtest.ns.spj_f GROUP BY k")
      qa.collect()
      assert(!qa.queryExecution.executedPlan.toString.contains("Exchange"),
        "aggregation over the bucket key must not shuffle")
      // control: without v2 bucketing the same join shuffles both sides
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val q2 = spark.sql(
        """SELECT f.k, f.v, d.w FROM gtest.ns.spj_f f
          |JOIN gtest.ns.spj_d d ON f.k = d.k""".stripMargin)
      q2.collect()
      assert(q2.queryExecution.executedPlan.toString.contains("Exchange"),
        "the control join without v2 bucketing should shuffle")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    // appends compose: a second bucketed INSERT lands tagged too
    (401L to 450L).map(k => (k, k * 2)).toDF("k", "v").createOrReplaceTempView("src_sf2")
    spark.sql("INSERT INTO gtest.ns.spj_f SELECT * FROM src_sf2")
    assert(spark.sql("SELECT count(*) FROM gtest.ns.spj_f").head.getLong(0) == 450)
    assert(ManifestTable.sqlEntriesAt(fdir, 2).filter(_.isData)
      .forall(_.stats.contains("_ptn_bucket_k")))
    // file pruning by the bucket key's ordinary min/max stats still works
    // (bucketing and stats pruning compose)
    assert(spark.sql("SELECT v FROM gtest.ns.spj_f WHERE k = 425").head.getLong(0) == 850)

    // compaction is BUCKET-AWARE: CALL compact re-tags, so the SPJ story
    // survives maintenance (a plain rewrite would strip the tags and
    // silently degrade to shuffling)
    spark.sql("CALL gtest.system.compact('ns.spj_f', 8)")
    val post = ManifestTable.sqlEntriesAt(fdir, 3).filter(_.isData)
    assert(post.nonEmpty && post.forall(_.stats.contains("_ptn_bucket_k")),
      "compacted files must keep their bucket tags")
    assert(spark.sql("SELECT sum(v) FROM gtest.ns.spj_f").head.getLong(0) ==
      (1L to 450L).map(_ * 2).sum)
    val saved2 = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val q3 = spark.sql(
        """SELECT f.k FROM gtest.ns.spj_f f
          |JOIN gtest.ns.spj_d d ON f.k = d.k""".stripMargin)
      q3.collect()
      assert(!q3.queryExecution.executedPlan.toString.contains("Exchange"),
        "SPJ must still plan zero exchanges after compaction")
    } finally saved2.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("branch appends keep the clustering: SPJ and transform pruning survive a WAP fast-forward") {
    import spark.implicits._
    wh: Unit
    // --- bucketed half: the branch append must carry bucket tags, or a
    // fast-forwarded WAP cycle silently degrades SPJ on main
    spark.sql("CREATE TABLE gtest.ns.wapb (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    (1L to 100L).map(k => (k, k * 2)).toDF("k", "v").createOrReplaceTempView("src_wapb")
    spark.sql("INSERT INTO gtest.ns.wapb SELECT * FROM src_wapb")
    val bdir = s"$wh/ns/wapb"
    ManifestTable.createBranch(bdir, "exp")
    (101L to 140L).map(k => (k, k * 2)).toDF("k", "v")
      .writeTo("gtest.ns.wapb").option("branch", "exp").append()
    ManifestTable.fastForward(bdir, "exp")
    val es = ManifestTable.sqlEntriesAt(bdir, ManifestTable.currentVersion(bdir))
      .filter(_.isData)
    assert(es.forall(_.stats.contains("_ptn_bucket_k")),
      "every file after the WAP cycle must carry its bucket tag")
    assert(spark.sql("SELECT count(*) FROM gtest.ns.wapb").head.getLong(0) == 140)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val qa = spark.sql("SELECT k, sum(v) AS s FROM gtest.ns.wapb GROUP BY k")
      assert(qa.collect().length == 140)
      assert(!qa.queryExecution.executedPlan.toString.contains("Exchange"),
        "bucket-key aggregation must stay exchange-free after the WAP cycle")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    // --- transform half: branch-appended files must carry _ptn_days_ts
    // so day pruning keeps working on the branch AND on main after ff
    spark.sql("""CREATE TABLE gtest.ns.waph (ts TIMESTAMP, v BIGINT)
                |PARTITIONED BY (days(ts))""".stripMargin)
    def dayRows(days: Range) = days.flatMap { d =>
      (0 until 10).map(i => (java.sql.Timestamp.valueOf(java.time.LocalDateTime
        .of(2015, 5, 1, 8, 0).plusDays(d)), d * 100L + i))
    }
    dayRows(0 until 5).toDF("ts", "v").createOrReplaceTempView("src_waph")
    spark.sql("INSERT INTO gtest.ns.waph SELECT * FROM src_waph")
    val hdir = s"$wh/ns/waph"
    ManifestTable.createBranch(hdir, "exp")
    dayRows(5 until 8).toDF("ts", "v")
      .writeTo("gtest.ns.waph").option("branch", "exp").append()
    // the branch read prunes a branch-only day down to its one cell file
    import graft.sources.v2.GraftCatalog.scannedFiles
    val qb = spark.read.option("branch", "exp").table("gtest.ns.waph")
      .where("ts >= TIMESTAMP '2015-05-07 00:00:00' AND " +
        "ts < TIMESTAMP '2015-05-08 00:00:00'")
    assert(scannedFiles(qb).size == 1,
      s"branch day prune expected 1 file, got ${scannedFiles(qb).size}")
    assert(qb.count() == 10)
    ManifestTable.fastForward(hdir, "exp")
    val qm = spark.sql("SELECT sum(v) FROM gtest.ns.waph " +
      "WHERE ts >= TIMESTAMP '2015-05-06 00:00:00' " +
      "AND ts < TIMESTAMP '2015-05-07 00:00:00'")
    assert(scannedFiles(qm).size == 1,
      "main day prune after fast-forward must open one branch-added file")
    assert(qm.head.getLong(0) == (0 until 10).map(i => 500L + i).sum)
  }

  test("group CoW rewrites honor write.order: SQL UPDATE keeps the table range-clustered") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.cowo (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('write.order'='k','write.order.partitions'='4')")
    (0L until 400L).map(k => (k, k)).toDF("k", "v")
      .createOrReplaceTempView("src_cowo")
    spark.sql("INSERT INTO gtest.ns.cowo SELECT * FROM src_cowo")
    val dir = s"$wh/ns/cowo"
    val before = ManifestTable.fileCount(dir)
    assert(before > 1)
    // an unprunable condition touches every file → full rewrite; without
    // the ordered distribution on the row-level write the replacement
    // files interleave k ranges and point queries stop pruning
    spark.sql("UPDATE gtest.ns.cowo SET v = v + 1000 WHERE k % 2 = 0")
    val es = ManifestTable.sqlEntriesAt(dir, ManifestTable.currentVersion(dir))
      .filter(_.isData)
    assert(es.size > 1, s"the ordered rewrite must emit several files, got ${es.size}")
    val ranges = es.flatMap(_.stats.get("k")).sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi <= lo
      case _ => true
    }, s"post-UPDATE files must cover disjoint k ranges, got $ranges")
    import graft.sources.v2.GraftCatalog.scannedFiles
    val q = spark.sql("SELECT sum(v) FROM gtest.ns.cowo WHERE k >= 10 AND k < 60")
    assert(scannedFiles(q).size < es.size,
      "a narrow range after the UPDATE must still prune files")
    assert(q.head.getLong(0) ==
      (10L until 60L).map(k => if (k % 2 == 0) k + 1000 else k).sum)
  }

  test("branch appends honor write.order: an ordered WAP cycle keeps range clustering") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.wapo (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('write.order'='k','write.order.partitions'='4')")
    (0L until 200L).map(k => (k, k * 2)).toDF("k", "v")
      .createOrReplaceTempView("src_wapo")
    spark.sql("INSERT INTO gtest.ns.wapo SELECT * FROM src_wapo")
    val dir = s"$wh/ns/wapo"
    ManifestTable.createBranch(dir, "exp")
    // shuffled, multi-partition input: the BRANCH write must declare the
    // range distribution itself, exactly like a main-line INSERT
    (200L until 400L).map(k => (k, k * 2)).sortBy(_._1 % 7)
      .toDF("k", "v").repartition(8)
      .writeTo("gtest.ns.wapo").option("branch", "exp").append()
    val bv = ManifestTable.branchVersion(dir, "exp")
    val appended = ManifestTable.sqlEntriesAt(dir, bv, ManifestTable.Ref.Branch("exp"))
      .filter(_.isData).filter(_.stats.get("k").exists(_._1 >= 200.0))
    assert(appended.size > 1,
      s"the ordered branch append should emit several files, got ${appended.size}")
    // disjoint per-file ranges — the write.order contract
    val ranges = appended.flatMap(_.stats.get("k")).sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi <= lo
      case _ => true
    }, s"branch-appended files must cover disjoint k ranges, got $ranges")
    // a narrow branch read prunes to a strict file subset
    import graft.sources.v2.GraftCatalog.scannedFiles
    val qb = spark.read.option("branch", "exp").table("gtest.ns.wapo")
      .where("k >= 210 AND k < 240")
    assert(scannedFiles(qb).size < appended.size + ManifestTable.fileCount(dir))
    assert(qb.agg(sum("v")).head.getLong(0) == (210L until 240L).map(_ * 2).sum)
    // after fast-forward the clustering survives onto main
    ManifestTable.fastForward(dir, "exp")
    val qm = spark.sql(
      "SELECT sum(v) FROM gtest.ns.wapo WHERE k >= 350 AND k < 380")
    assert(scannedFiles(qm).size < ManifestTable.fileCount(dir),
      "a narrow range on post-ff main must prune the ordered branch files")
    assert(qm.head.getLong(0) == (350L until 380L).map(_ * 2).sum)
  }

  test("CREATE PARTITIONED BY (md5bucket(n, k), days(ts)): hidden transforms declared in DDL") {
    import spark.implicits._
    import graft.sources.ManifestTable.{BucketTransform, DaysTransform}
    wh: Unit
    spark.sql("""CREATE TABLE gtest.ns.hpddl (ts TIMESTAMP, k STRING, v BIGINT)
                |PARTITIONED BY (md5bucket(8, k), days(ts))""".stripMargin)
    val dir = s"$wh/ns/hpddl"
    // the DDL declares the same write-once spec the library verb would
    assert(ManifestTable.partitionTransforms(dir) ==
      Seq(BucketTransform(8, "k"), DaysTransform("ts")))
    val rows = (0 until 6).flatMap { d =>
      (0 until 40).map { i =>
        (java.sql.Timestamp.valueOf(java.time.LocalDateTime
          .of(2019, 3, 10, 9, 0).plusDays(d)), s"key${i % 10}", d * 1000L + i)
      }
    }
    rows.toDF("ts", "k", "v").repartition(8).createOrReplaceTempView("src_hpddl")
    spark.sql("INSERT INTO gtest.ns.hpddl SELECT * FROM src_hpddl")
    // transform columns stay invisible
    assert(spark.table("gtest.ns.hpddl").columns.toSeq == Seq("ts", "k", "v"))
    assert(spark.sql("SELECT count(*) FROM gtest.ns.hpddl").head.getLong(0) == 240)
    import graft.sources.v2.GraftCatalog.scannedFiles
    val total = ManifestTable.fileCount(dir)
    // a string point lookup prunes through the md5 bucket transform
    val qk = spark.sql("SELECT sum(v) FROM gtest.ns.hpddl WHERE k = 'key3'")
    assert(scannedFiles(qk).size < total,
      s"md5bucket lookup must prune: ${scannedFiles(qk).size} of $total")
    assert(qk.head.getLong(0) ==
      rows.filter(_._2 == "key3").map(_._3).sum)
    // a day window prunes through the days transform
    val qd = spark.sql("SELECT sum(v) FROM gtest.ns.hpddl " +
      "WHERE ts >= TIMESTAMP '2019-03-12 00:00:00' " +
      "AND ts < TIMESTAMP '2019-03-13 00:00:00'")
    assert(scannedFiles(qd).size < total,
      s"day window must prune: ${scannedFiles(qd).size} of $total")
    assert(qd.head.getLong(0) == rows.filter(_._3 / 1000L == 2).map(_._3).sum)
    // DESCRIBE surfaces the declared layout under the DDL names
    val desc = spark.sql("DESCRIBE TABLE gtest.ns.hpddl").collect()
      .map(_.getString(0)).mkString("\n")
    assert(desc.contains("md5bucket") || spark.sql(
      "DESCRIBE TABLE EXTENDED gtest.ns.hpddl").collect()
      .map(r => r.getString(0) + " " + r.getString(1)).mkString("\n")
      .contains("md5bucket"), "DESCRIBE must show the md5bucket transform")
    // a non-hidden transform name still refuses with a pointer
    intercept[Exception] {
      spark.sql("CREATE TABLE gtest.ns.hpddl2 (k BIGINT) " +
        "PARTITIONED BY (years(k))")
    }
  }

  test("metadata tables: .files / .history / .branches inspect the lakehouse through SQL") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.meta_t (k BIGINT)")
    Seq(1L, 2L, 3L).toDF("k").createOrReplaceTempView("src_mt")
    spark.sql("INSERT INTO gtest.ns.meta_t SELECT * FROM src_mt")
    Seq(4L, 5L).toDF("k").createOrReplaceTempView("src_mt2")
    spark.sql("INSERT INTO gtest.ns.meta_t SELECT * FROM src_mt2")
    val dir = s"$wh/ns/meta_t"
    ManifestTable.delete(Seq(2L).toDF("k"), dir, "k") // v3 with an eq-delete
    ManifestTable.createBranch(dir, "exp")
    ManifestTable.commitToBranch(Seq(9L).toDF("k"), dir, "exp")

    // .files: entries of the CURRENT snapshot, kinds included
    val files = spark.sql("SELECT kind, count(*) AS n FROM gtest.ns.meta_t.files " +
      "GROUP BY kind ORDER BY kind").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(files("data") >= 2 && files("eq_delete") >= 1, files.toString)

    // .history: one row per version with publish instants and kind counts
    val hist = spark.sql("SELECT version, n_data_files, n_eq_deletes, publish_millis " +
      "FROM gtest.ns.meta_t.history ORDER BY version").collect()
    assert(hist.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(hist.last.getInt(2) >= 1) // the delete commit carries eq-delete entries
    assert(hist.forall(_.getLong(3) > 0L)) // durable instants present

    // .branches
    val br = spark.sql("SELECT name, fork_version, head_version " +
      "FROM gtest.ns.meta_t.branches").collect()
    assert(br.length == 1 && br(0).getString(0) == "exp" &&
      br(0).getInt(1) == 3 && br(0).getInt(2) == 4)

    // a metadata name under a NONEXISTENT table still refuses
    intercept[Exception] { spark.sql("SELECT * FROM gtest.ns.ghost.files").collect() }
  }

  test(".partitions metadata table: per-cell file/row/byte counts, zero data IO") {
    import spark.implicits._
    wh: Unit
    // bucketed: one row per bucket, rows summed from __rows stats
    spark.sql("CREATE TABLE gtest.ns.pmeta (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    (1L to 100L).map(k => (k, k)).toDF("k", "v").createOrReplaceTempView("src_pm")
    spark.sql("INSERT INTO gtest.ns.pmeta SELECT * FROM src_pm")
    val parts = spark.sql("SELECT partition, n_files, n_rows, total_bytes " +
      "FROM gtest.ns.pmeta.partitions ORDER BY partition").collect()
    assert(parts.length == 4, parts.mkString(","))
    assert(parts.forall(r => r.getString(0).startsWith("bucket(k)=") &&
      r.getInt(1) >= 1 && r.getLong(3) > 0L))
    assert(parts.map(_.getLong(2)).sum == 100L,
      "__rows stats must sum to the row count")
    // day-transform: one row per day cell
    spark.sql("CREATE TABLE gtest.ns.pmeta_d (id BIGINT, d DATE) " +
      "PARTITIONED BY (days(d))")
    spark.sql("""INSERT INTO gtest.ns.pmeta_d
                |SELECT id, DATE_ADD(DATE'2024-03-01', CAST(id % 3 AS INT))
                |FROM range(0, 30) r(id)""".stripMargin)
    val dparts = spark.sql("SELECT partition, n_rows FROM " +
      "gtest.ns.pmeta_d.partitions ORDER BY partition").collect()
    assert(dparts.length == 3 && dparts.forall(r =>
      r.getString(0).startsWith("days(d)=197") && r.getLong(1) == 10L),
      dparts.mkString(","))
    // unpartitioned: one (table) roll-up row
    spark.sql("CREATE TABLE gtest.ns.pmeta_u (k BIGINT)")
    spark.sql("INSERT INTO gtest.ns.pmeta_u SELECT id FROM range(0, 7) r(id)")
    val u = spark.sql("SELECT * FROM gtest.ns.pmeta_u.partitions").collect()
    assert(u.length == 1 && u(0).getString(0) == "(table)" &&
      u(0).getLong(2) == 7L, u.mkString(","))
  }

  test("hidden-partition tables serve through SQL: source predicates prune via the declared transforms") {
    import spark.implicits._
    import graft.sources.ManifestTable.{BucketTransform, DaysTransform}
    wh: Unit
    val dir = s"$wh/ns/hp"
    // 120 days of events, 8 user buckets — committed through the library
    // (the transform clustering discipline is commitPartitioned's)
    val rows = (0 until 1200).map { i =>
      (java.sql.Timestamp.valueOf(java.time.LocalDateTime
        .of(1996, 1, 1, 12, 0).plusDays(i % 120)),
        s"u${i % 40}", i.toLong)
    }
    ManifestTable.commitPartitioned(
      rows.toDF("ts", "user", "amount"), dir, append = false,
      Seq(BucketTransform(8, "user"), DaysTransform("ts")), numFiles = 16)

    // SELECT through the catalog: hidden columns are invisible
    val cols = spark.sql("SELECT * FROM gtest.ns.hp").columns.toSeq
    assert(cols == Seq("ts", "user", "amount"), cols.toString)
    assert(spark.sql("SELECT count(*) FROM gtest.ns.hp").head.getLong(0) == 1200)

    import graft.sources.v2.GraftCatalog.scannedFiles
    val total = ManifestTable.fileCount(dir)
    assert(total >= 8, s"need a multi-file layout, got $total")
    // a time-range predicate on the SOURCE column prunes via _ptn_days_ts
    val q = spark.sql("SELECT sum(amount) FROM gtest.ns.hp " +
      "WHERE ts >= TIMESTAMP '1996-01-05 00:00:00' " +
      "AND ts < TIMESTAMP '1996-01-12 00:00:00'")
    assert(scannedFiles(q).size < total,
      s"days-transform pruning expected: ${scannedFiles(q).size} of $total")
    val expected = rows.filter { case (ts, _, _) =>
      !ts.before(java.sql.Timestamp.valueOf("1996-01-05 00:00:00")) &&
        ts.before(java.sql.Timestamp.valueOf("1996-01-12 00:00:00"))
    }.map(_._3).sum
    assert(q.head.getLong(0) == expected)
    // string-keyed bucket point lookups prune through SQL too: the
    // literal's md5 bucket is computed driver-side (r10 session 3 —
    // previously a library-only readSourceBucket)
    val qs = spark.sql("SELECT sum(amount) FROM gtest.ns.hp WHERE user = 'u7'")
    assert(scannedFiles(qs).size < total,
      s"string bucket pruning expected: ${scannedFiles(qs).size} of $total")
    assert(qs.head.getLong(0) ==
      rows.filter(_._2 == "u7").map(_._3).sum)
    // SQL INSERT appends through the clustered transformed writer: the
    // new file carries BOTH transform values and every lookup still
    // agrees (r10 session 3 — previously refused)
    spark.sql("INSERT INTO gtest.ns.hp VALUES " +
      "(TIMESTAMP '1996-01-03 00:00:00', 'u1', 5000)")
    assert(spark.sql("SELECT count(*) FROM gtest.ns.hp").head.getLong(0) == 1201)
    val u1 = ManifestTable.readSourceBucket(spark, dir, "user", "u1")
      .where($"amount" === 5000L).count()
    assert(u1 == 1, "the SQL-inserted row must land in u1's bucket cell")
    val d3 = ManifestTable.readSourceDays(spark, dir, "ts",
      java.time.LocalDate.of(1996, 1, 3).toEpochDay,
      java.time.LocalDate.of(1996, 1, 3).toEpochDay)
      .where($"amount" === 5000L).count()
    assert(d3 == 1, "the SQL-inserted row must land in the Jan-3 day cell")
  }

  test("CREATE PARTITIONED BY (days(ts)) + INSERT: each commit lands one-day-per-file, SQL loop complete") {
    import spark.implicits._
    import graft.sources.ManifestTable.DaysTransform
    wh: Unit
    spark.sql("""CREATE TABLE gtest.ns.hpw (ts TIMESTAMP, k BIGINT, v BIGINT)
                |PARTITIONED BY (days(ts))""".stripMargin)
    val dir = s"$wh/ns/hpw"
    assert(ManifestTable.partitionTransforms(dir) == Seq(DaysTransform("ts")),
      "CREATE must declare the library-visible transform spec")
    // 10 days x 20 rows, shuffled input — the REQUIRED clustered
    // distribution must regroup them so each staged file holds one day
    val rows = scala.util.Random.shuffle((0 until 200).toList).map { i =>
      (java.sql.Timestamp.valueOf(java.time.LocalDateTime
        .of(2001, 3, 1, 6, 30).plusDays(i % 10)), i.toLong, i.toLong * 7)
    }
    rows.toDF("ts", "k", "v").createOrReplaceTempView("src_hpw")
    spark.sql("INSERT INTO gtest.ns.hpw SELECT /*+ REPARTITION(4) */ * FROM src_hpw")
    assert(ManifestTable.fileCount(dir) == 10,
      s"one file per day cell expected, got ${ManifestTable.fileCount(dir)}")
    // hidden column invisible; full parity including exact timestamps
    assert(spark.sql("SELECT * FROM gtest.ns.hpw").columns.toSeq ==
      Seq("ts", "k", "v"))
    assert(spark.sql("SELECT ts, k, v FROM gtest.ns.hpw").as[(java.sql.Timestamp, Long, Long)]
      .collect().sortBy(_._2).toList == rows.sortBy(_._2),
      "timestamp round-trip through the DSv2 writer must be exact")
    // a 3-day window keeps exactly 3 of 10 files
    import graft.sources.v2.GraftCatalog.scannedFiles
    val q = spark.sql("SELECT sum(v) FROM gtest.ns.hpw " +
      "WHERE ts >= TIMESTAMP '2001-03-02 00:00:00' " +
      "AND ts < TIMESTAMP '2001-03-05 00:00:00'")
    assert(scannedFiles(q).size == 3,
      s"3 day files expected, got ${scannedFiles(q).size}")
    assert(q.head.getLong(0) == rows.filter(r => r._2 % 10 >= 1 && r._2 % 10 <= 3)
      .map(_._3).sum)
    // a NULL source value lands in the null cell and reads conservatively
    spark.sql("INSERT INTO gtest.ns.hpw VALUES (NULL, 9999, 1)")
    assert(spark.sql("SELECT count(*) FROM gtest.ns.hpw").head.getLong(0) == 201)
    assert(spark.sql("SELECT count(*) FROM gtest.ns.hpw " +
      "WHERE ts IS NULL").head.getLong(0) == 1)
    // the library path accepts the SQL-declared spec (one shared table)
    ManifestTable.commitPartitioned(
      Seq((java.sql.Timestamp.valueOf("2001-03-20 00:00:00"), 10000L, 3L))
        .toDF("ts", "k", "v"), dir, append = true,
      Seq(DaysTransform("ts")), numFiles = 1)
    assert(spark.sql("SELECT count(*) FROM gtest.ns.hpw").head.getLong(0) == 202)
    // INSERT OVERWRITE resets; time travel still serves v1
    spark.sql("INSERT OVERWRITE gtest.ns.hpw " +
      "VALUES (TIMESTAMP '2001-04-01 00:00:00', 1, 1)")
    assert(spark.sql("SELECT count(*) FROM gtest.ns.hpw").head.getLong(0) == 1)
    assert(spark.sql("SELECT count(*) FROM gtest.ns.hpw VERSION AS OF 1")
      .head.getLong(0) == 200)
  }

  test("position deletes serve through SQL: ordinal-counted merge-on-read, filters stay correct") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gtest.ns.pd (k BIGINT, v BIGINT)")
    (1L to 300L).map(k => (k, k * 10)).toDF("k", "v").createOrReplaceTempView("src_pd")
    spark.sql("INSERT INTO gtest.ns.pd SELECT /*+ REPARTITION(3) */ * FROM src_pd")
    val dir = s"$wh/ns/pd"
    // arbitrary-predicate position delete (no key needed — the second
    // Iceberg delete shape)
    ManifestTable.deleteWhere(spark, dir, col("v") % 70 === 0)
    val gone = (1L to 300L).filter(k => (k * 10) % 70 == 0)
    assert(spark.sql("SELECT count(*) FROM gtest.ns.pd").head.getLong(0) ==
      300 - gone.size)
    // the deleted rows are exactly the predicate's
    assert(spark.sql("SELECT count(*) FROM gtest.ns.pd WHERE v % 70 = 0")
      .head.getLong(0) == 0)
    // pushed filters on UNTOUCHED rows still compute exactly (residual
    // re-application keeps touched-file full reads correct)
    assert(spark.sql("SELECT sum(v) FROM gtest.ns.pd WHERE k <= 50")
      .head.getLong(0) == (1L to 50L).filterNot(gone.contains).map(_ * 10).sum)
    // agrees with the library read
    val lib = ManifestTable.read(spark, dir).agg(sum($"v")).head.getLong(0)
    assert(spark.sql("SELECT sum(v) FROM gtest.ns.pd").head.getLong(0) == lib)
    // a SECOND position delete composes
    ManifestTable.deleteWhere(spark, dir, col("k") === 1L)
    assert(spark.sql("SELECT count(*) FROM gtest.ns.pd").head.getLong(0) ==
      299 - gone.size)
    // time travel crosses both
    assert(spark.sql("SELECT count(*) FROM gtest.ns.pd VERSION AS OF 1")
      .head.getLong(0) == 300)
  }

  test("position-deleted files: filters push down, partitions align to row groups, ordinals stay exact (r16)") {
    import spark.implicits._
    wh: Unit
    // a SINGLE data file with MANY row groups (tiny parquet block size),
    // written in k order so every row group carries a disjoint k range
    // in its stats — the shape where row-group skipping pays
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = Option(hc.get("parquet.block.size"))
    hc.setInt("parquet.block.size", 2048)
    try {
      spark.sql("CREATE TABLE gtest.ns.pdr (k BIGINT, v BIGINT)")
      val dir = s"$wh/ns/pdr"
      ManifestTable.commit((1L to 4000L).map(k => (k, k * 10)).toDF("k", "v")
        .coalesce(1).sortWithinPartitions("k"), dir, append = true): Unit
      ManifestTable.deleteWhere(spark, dir, col("k") % 100 === 0)
      val gone = (1L to 4000L).filter(_ % 100 == 0).toSet
      // a pushable range predicate: most row groups prune; the surviving
      // groups' ordinals must still line up with the file-global deleted
      // positions — the pre-r16 whole-file reader could not skip at all,
      // and a base-less skip would delete the WRONG rows here
      val q = spark.sql(
        "SELECT sum(v) AS s FROM gtest.ns.pdr WHERE k BETWEEN 1001 AND 2000")
      assert(q.head.getLong(0) ==
        (1001L to 2000L).filterNot(gone).map(_ * 10).sum)
      // planning pins: filters PUSHED to the pos-touched batch, and one
      // partition per row group (the tiny block size forces many)
      val planned = graft.sources.v2.GraftMoRScan.touchedPlanLog.get("ns.pdr")
      assert(planned != null, "the MoR scan must log its touched planning")
      val (parts, pushed) = planned
      assert(pushed > 0, "filters must be pushed to the pos-touched batch")
      assert(parts >= 3,
        s"expected one partition per row group (many), got $parts")
      // unfiltered identity with the library read
      val lib = ManifestTable.read(spark, dir)
        .agg(sum($"v"), count(lit(1))).as[(Long, Long)].head()
      assert(spark.sql("SELECT sum(v), count(*) FROM gtest.ns.pdr")
        .as[(Long, Long)].head() == lib)
      // a second position delete composes across row-group partitions
      ManifestTable.deleteWhere(spark, dir, col("k") === 1501L)
      assert(spark.sql(
        "SELECT count(*) FROM gtest.ns.pdr WHERE k BETWEEN 1001 AND 2000")
        .head.getLong(0) == 1000 - 10 - 1)
      assert(spark.sql("SELECT count(*) FROM gtest.ns.pdr").head.getLong(0)
        == 4000 - gone.size - 1)
    } finally oldBlock match {
      case Some(b) => hc.set("parquet.block.size", b)
      case None    => hc.unset("parquet.block.size")
    }
  }

  test("namespaces: existence reflects disk; DROP honors CASCADE and refuses non-empty otherwise") {
    import spark.implicits._
    wh: Unit
    // nonexistent namespaces must NOT appear to exist (ADVICE r9)
    assert(spark.sql("SHOW NAMESPACES IN gtest").collect()
      .map(_.getString(0)).forall(_ != "ghost"))
    spark.sql("CREATE NAMESPACE gtest.nsd")
    assert(spark.sql("SHOW NAMESPACES IN gtest").collect()
      .map(_.getString(0)).contains("nsd"))
    spark.sql("CREATE TABLE gtest.nsd.t1 (k BIGINT)")
    Seq(1L, 2L).toDF("k").createOrReplaceTempView("src_ns")
    spark.sql("INSERT INTO gtest.nsd.t1 SELECT * FROM src_ns")
    // non-cascade drop of a non-empty namespace refuses loudly
    intercept[Exception] { spark.sql("DROP NAMESPACE gtest.nsd") }
    assert(spark.sql("SELECT count(*) FROM gtest.nsd.t1").head.getLong(0) == 2)
    // CASCADE removes the namespace and everything under it
    spark.sql("DROP NAMESPACE gtest.nsd CASCADE")
    assert(!spark.sql("SHOW NAMESPACES IN gtest").collect()
      .map(_.getString(0)).contains("nsd"))
    assert(!spark.catalog.tableExists("gtest.nsd.t1"))
    // empty namespace drops without CASCADE
    spark.sql("CREATE NAMESPACE gtest.nse")
    spark.sql("DROP NAMESPACE gtest.nse")
    assert(!spark.sql("SHOW NAMESPACES IN gtest").collect()
      .map(_.getString(0)).contains("nse"))
  }
}
