package graft

import graft.sources.ManifestTable

/** DataFrame-reader time travel options (versionAsOf / timestampAsOf,
  * tag-aware) and the session-level write-audit-publish conf
  * (`spark.graft.wap.branch`). */
class TimeTravelWapSpec extends SparkSpec {
  private lazy val wh: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_wap")
    d.toFile.deleteOnExit()
    spark.conf.set("spark.sql.catalog.gwap", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gwap.warehouse", d.toString)
    d.toString
  }

  test("reader options: versionAsOf (int and tag), timestampAsOf") {
    wh: Unit
    val T = "gwap.ns.tt"
    spark.sql(s"CREATE TABLE $T (a BIGINT)")
    spark.sql(s"INSERT INTO $T VALUES (1)")                 // v1
    val dir = s"$wh/ns/tt"
    ManifestTable.createTag(dir, "first")
    spark.sql(s"INSERT INTO $T VALUES (10)")                // v2
    val t1 = ManifestTable.versionTimestamps(dir).toMap.apply(1)

    def sumAt(opts: (String, String)*): Long = {
      var r = spark.read
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.table(T).agg(org.apache.spark.sql.functions.sum("a")).head.getLong(0)
    }
    // Spark's analyzer lifts these options into loadTable(version /
    // timestamp) — the catalog's tag-aware AS OF resolution serves them
    val t1Str = java.time.Instant.ofEpochMilli(t1)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(sumAt() == 11L)
    assert(sumAt("versionAsOf" -> "1") == 1L)
    assert(sumAt("versionAsOf" -> "first") == 1L)           // tag resolves
    assert(sumAt("timestampAsOf" -> t1Str) == 1L)           // v1's instant
    intercept[Exception] { sumAt("versionAsOf" -> "99") }
    intercept[Exception] { sumAt("versionAsOf" -> "nope") }
    intercept[Exception] { sumAt("timestampAsOf" -> "1970-01-02 00:00:00") }
  }

  test("spark.graft.wap.branch routes appends to the audit branch; mutations refuse") {
    wh: Unit
    val T = "gwap.ns.w"
    spark.sql(s"CREATE TABLE $T (a BIGINT)")
    spark.sql(s"INSERT INTO $T VALUES (1)")
    val dir = s"$wh/ns/w"
    ManifestTable.createBranch(dir, "audit")
    spark.conf.set("spark.graft.wap.branch", "audit")
    try {
      // the ETL job's INSERT, unchanged, lands on the branch
      spark.sql(s"INSERT INTO $T VALUES (2), (3)")
      assert(spark.sql(s"SELECT sum(a) FROM $T").head.getLong(0) == 1L,
        "main must stay untouched while staging")
      assert(spark.read.option("branch", "audit").table(T)
        .agg(org.apache.spark.sql.functions.sum("a")).head.getLong(0) == 6L,
        "the audit branch must hold the staged rows")
      // r11: unkeyed row-level SQL now STAGES too (the group CoW has a
      // branch commit verb) — main still never moves
      spark.sql(s"UPDATE $T SET a = a + 10 WHERE a = 2")
      spark.sql(s"DELETE FROM $T WHERE a = 3")
      assert(spark.sql(s"SELECT sum(a) FROM $T").head.getLong(0) == 1L,
        "main must stay untouched across staged row-level SQL")
      assert(spark.read.option("branch", "audit").table(T)
        .agg(org.apache.spark.sql.functions.sum("a")).head.getLong(0) == 13L,
        "the audit branch must serve the staged mutations (1 + 12)")
      // verbs with no branch story still refuse loudly
      intercept[Exception] { spark.sql(s"TRUNCATE TABLE $T") }
    } finally spark.conf.unset("spark.graft.wap.branch")
    // publish: fast-forward replays the audited lineage onto main
    ManifestTable.fastForward(dir, "audit")
    assert(spark.sql(s"SELECT sum(a) FROM $T").head.getLong(0) == 13L)
    assert(spark.sql(s"SELECT count(*) FROM $T").head.getLong(0) == 2L)
  }

  test("WAP stages row-level SQL on BUCKETED unkeyed tables; SPJ survives fast-forward (r12)") {
    import spark.implicits._
    wh: Unit
    // bucketed fact + co-bucketed dim: the SPJ pin is the point — a
    // staged UPDATE whose replacements lost their bucket tags would put
    // two exchanges back under every downstream join after publish
    spark.sql("CREATE TABLE gwap.ns.bw (k BIGINT, v BIGINT) PARTITIONED BY (bucket(4, k))")
    spark.sql("CREATE TABLE gwap.ns.bwd (k BIGINT, w BIGINT) PARTITIONED BY (bucket(4, k))")
    (1L to 200L).map(k => (k, k)).toDF("k", "v").createOrReplaceTempView("wapb_src")
    spark.sql("INSERT INTO gwap.ns.bw SELECT * FROM wapb_src")
    (1L to 200L).map(k => (k, k * 5)).toDF("k", "w").createOrReplaceTempView("wapb_dim")
    spark.sql("INSERT INTO gwap.ns.bwd SELECT * FROM wapb_dim")
    val dir = s"$wh/ns/bw"
    ManifestTable.createBranch(dir, "audit")
    spark.conf.set("spark.graft.wap.branch", "audit")
    try {
      spark.sql("UPDATE gwap.ns.bw SET v = v + 1000 WHERE k % 2 = 0")  // branch v2
      spark.sql("DELETE FROM gwap.ns.bw WHERE k > 190")                // branch v3
      assert(ManifestTable.currentVersion(dir) == 1, "main must stay pinned")
      assert(spark.sql("SELECT sum(v) FROM gwap.ns.bw").head.getLong(0) ==
        (1L to 200L).sum, "main reads must not see staged mutations")
      val bv = ManifestTable.branchVersion(dir, "audit")
      assert(bv == 3, s"two staged mutations expected, head v$bv")
      val be = ManifestTable.sqlEntriesAt(dir, bv, ManifestTable.Ref.Branch("audit"))
      assert(be.filter(_.isData).forall(_.stats.contains("_ptn_bucket_k")),
        "every staged replacement must re-enter WITH its bucket tag")
      val expectStaged = (1L to 190L).map(k => if (k % 2 == 0) k + 1000 else k).sum
      assert(spark.read.option("branch", "audit").table("gwap.ns.bw")
        .agg(org.apache.spark.sql.functions.sum("v")).head.getLong(0) == expectStaged,
        "the audit read must serve the staged copy-on-write state")
    } finally spark.conf.unset("spark.graft.wap.branch")
    ManifestTable.fastForward(dir, "audit")
    val expect = (1L to 190L).map(k => if (k % 2 == 0) k + 1000 else k).sum
    assert(spark.sql("SELECT sum(v) FROM gwap.ns.bw").head.getLong(0) == expect)
    // zero-exchange storage-partitioned join AFTER the staged publish
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (c, _) => c -> spark.conf.getOption(c) }
    try {
      confs.foreach { case (c, x) => spark.conf.set(c, x) }
      val q = spark.sql(
        "SELECT f.k, f.v, d.w FROM gwap.ns.bw f JOIN gwap.ns.bwd d ON f.k = d.k")
      assert(q.collect().length == 190)
      assert(!q.queryExecution.executedPlan.toString.contains("Exchange"),
        "SPJ must survive WAP-staged row-level SQL with zero exchanges")
    } finally saved.foreach {
      case (c, Some(x)) => spark.conf.set(c, x)
      case (c, None)    => spark.conf.unset(c)
    }
  }

  test("WAP stages row-level SQL on TRANSFORM-partitioned unkeyed tables (r12)") {
    import spark.implicits._
    wh: Unit
    spark.sql("CREATE TABLE gwap.ns.tw (d DATE, v BIGINT) PARTITIONED BY (days(d))")
    (0 until 6).flatMap(i => (1L to 10L).map(r =>
      (java.sql.Date.valueOf(s"2024-03-0${i + 1}"), i * 10L + r)))
      .toDF("d", "v").createOrReplaceTempView("wapt_src")
    spark.sql("INSERT INTO gwap.ns.tw SELECT * FROM wapt_src")
    val dir = s"$wh/ns/tw"
    ManifestTable.createBranch(dir, "audit")
    spark.conf.set("spark.graft.wap.branch", "audit")
    try {
      spark.sql("UPDATE gwap.ns.tw SET v = v + 1000 WHERE v % 2 = 0")  // branch v2
      assert(ManifestTable.currentVersion(dir) == 1, "main must stay pinned")
      val bv = ManifestTable.branchVersion(dir, "audit")
      val be = ManifestTable.sqlEntriesAt(dir, bv, ManifestTable.Ref.Branch("audit"))
      assert(be.filter(_.isData).forall(_.stats.contains("_ptn_days_d")),
        "staged cell-split replacements must keep their _ptn_* day stats")
    } finally spark.conf.unset("spark.graft.wap.branch")
    ManifestTable.fastForward(dir, "audit")
    val allV = (0 until 6).flatMap(i => (1L to 10L).map(r => i * 10L + r))
    assert(spark.sql("SELECT sum(v) FROM gwap.ns.tw").head.getLong(0) ==
      allV.map(v => if (v % 2 == 0) v + 1000 else v).sum)
    assert(spark.sql("SELECT count(*) FROM gwap.ns.tw").head.getLong(0) == 60L)
  }

  test("spark.graft.wap.branch stages KEYED row-level SQL on the audit branch (r11)") {
    import spark.implicits._
    wh: Unit
    val T = "gwap.ns.kw"
    spark.sql(s"CREATE TABLE $T (k BIGINT, v BIGINT) TBLPROPERTIES('write.key'='k')")
    (1L to 100L).map(k => (k, k)).toDF("k", "v").createOrReplaceTempView("wap_src")
    spark.sql(s"INSERT INTO $T SELECT * FROM wap_src")                // main v1
    val dir = s"$wh/ns/kw"
    val mainFiles = ManifestTable.sqlEntriesAt(dir, 1).filter(_.isData).map(_.path)
    ManifestTable.createBranch(dir, "stage")
    spark.conf.set("spark.graft.wap.branch", "stage")
    try {
      // staged mutations COMPOSE: each op scan reads the branch head
      spark.sql(s"UPDATE $T SET v = v + 1000 WHERE k <= 10")          // branch v2
      spark.sql(s"DELETE FROM $T WHERE k > 90")                       // branch v3
      (5L to 15L).map(k => (k, k * 7)).toDF("k", "nv")
        .createOrReplaceTempView("wap_m")
      spark.sql(s"""MERGE INTO $T t USING wap_m s ON t.k = s.k
                   |WHEN MATCHED THEN UPDATE SET v = s.nv
                   |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)
                   |""".stripMargin)                                  // branch v4
      // main NEVER moved; the op scans saw only the branch
      assert(ManifestTable.currentVersion(dir) == 1, "main must stay pinned")
      assert(spark.sql(s"SELECT sum(v) FROM $T").head.getLong(0) == (1L to 100L).sum)
      // zero pre-mutation data files rewritten — pure delta staging
      val bv = ManifestTable.branchVersion(dir, "stage")
      assert(bv == 4, s"three staged mutations expected, head v$bv")
      val branchEntries = ManifestTable.sqlEntriesAt(dir, bv, ManifestTable.Ref.Branch("stage"))
      assert(mainFiles.toSet.subsetOf(
        branchEntries.filter(_.isData).map(_.path).toSet),
        "staged deltas must keep every pre-mutation file")
      assert(branchEntries.exists(_.deleteKey.isDefined))
      // the AUDIT leg: merge-on-read over the staged deltas
      val expect = ((1L to 90L).map(k => k ->
          (if (k <= 10) k + 1000 else k)).toMap ++
        (5L to 15L).map(k => k -> k * 7).toMap).values.sum
      assert(spark.read.option("branch", "stage").table(T)
        .agg(org.apache.spark.sql.functions.sum("v")).head.getLong(0) == expect,
        "the audit read must serve the staged merge-on-read state")
    } finally spark.conf.unset("spark.graft.wap.branch")
    // publish: the staged lineage replays onto main verbatim
    ManifestTable.fastForward(dir, "stage")
    assert(spark.sql(s"SELECT sum(v) FROM $T").head.getLong(0) == {
      ((1L to 90L).map(k => k -> (if (k <= 10) k + 1000 else k)).toMap ++
        (5L to 15L).map(k => k -> k * 7).toMap).values.sum
    })
    // maintenance materializes the fast-forwarded deltas physically
    spark.sql("CALL gwap.system.compact('ns.kw', 2)").collect()
    assert(spark.sql(s"SELECT count(*) FROM $T").head.getLong(0) == 90L)
  }
}
