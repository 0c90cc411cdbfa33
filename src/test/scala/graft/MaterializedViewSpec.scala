package graft

import org.apache.spark.sql.functions._
import graft.sources.ManifestTable
import graft.sources.v2.GraftMaterializedViews

/** The materialized-view rewrite contract (r13): exact-match + fresh →
  * the user's unchanged SQL silently reads the MV table; ANY dependency
  * commit makes the rule fail CLOSED (correct answer from base); refresh
  * re-arms; near-miss queries never rewrite. */
class MaterializedViewSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_mv_wh").toString
    spark.conf.set("spark.sql.catalog.gmvs", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmvs.warehouse", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmvs.ns")
    d
  }

  test("exact-match rewrite serves the MV; staleness fails closed; refresh re-arms") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.base (grp STRING, v BIGINT)")
    Seq(("a", 1L), ("a", 2L), ("b", 10L)).toDF("grp", "v")
      .createOrReplaceTempView("mv_src1")
    spark.sql("INSERT INTO gmvs.ns.base SELECT * FROM mv_src1")
    val defSql =
      "SELECT grp, count(*) AS n, sum(v) AS total FROM gmvs.ns.base GROUP BY grp"
    val mvDir = s"$wh/ns/_mv_agg"
    GraftMaterializedViews.register(spark, "mv_t1", defSql, mvDir,
      deps = Seq(s"$wh/ns/base"))
    val h0 = GraftMaterializedViews.hits("mv_t1")

    // the UNCHANGED query rewrites to the MV scan
    val q1 = spark.sql(defSql + " ORDER BY grp")
    assert(q1.as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 3L), ("b", 1L, 10L)))
    assert(GraftMaterializedViews.hits("mv_t1") == h0 + 1,
      "the exact-match query must be served from the MV")
    assert(q1.queryExecution.executedPlan.toString.contains("_mv_agg"),
      "the executed plan must scan the MV table")

    // near-miss never rewrites: the extra filter changes the child
    // subtree, so neither exact-match nor rollup can serve it
    spark.sql(s"SELECT grp, count(*) AS n, sum(v) AS total FROM gmvs.ns.base " +
      "WHERE v > 1 GROUP BY grp").collect()
    assert(GraftMaterializedViews.hits("mv_t1") == h0 + 1,
      "near-miss queries must not be served from the MV")
    // the GLOBAL aggregate is the coarsest point of the rollup lattice:
    // count(*) folds the stored count partials (r14 containment rewrite)
    val g = spark.sql(s"SELECT count(*) AS n FROM gmvs.ns.base")
    assert(g.as[Long].head() == 3L)
    assert(GraftMaterializedViews.hits("mv_t1") == h0 + 2,
      "the global rollup must serve from the MV's partials")

    // a dependency commit makes the view STALE: the rule fails closed and
    // the query computes the CURRENT answer from base
    spark.sql("INSERT INTO gmvs.ns.base VALUES ('b', 20)")
    val q2 = spark.sql(defSql + " ORDER BY grp")
    assert(q2.as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 3L), ("b", 2L, 30L)),
      "a stale MV must never be served — the base answer wins")
    assert(GraftMaterializedViews.hits("mv_t1") == h0 + 2)
    assert(!q2.queryExecution.executedPlan.toString.contains("_mv_agg"))

    // refresh re-materializes + re-records versions: rewrite re-arms
    GraftMaterializedViews.refresh(spark, "mv_t1")
    val q3 = spark.sql(defSql + " ORDER BY grp")
    assert(q3.as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 3L), ("b", 2L, 30L)))
    assert(GraftMaterializedViews.hits("mv_t1") == h0 + 3)
    GraftMaterializedViews.drop("mv_t1")
  }

  test("refreshIncremental folds the feed into the groups ≡ full recompute; zero-count groups drop") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.t4 (k BIGINT, grp STRING, v BIGINT)")
    Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L), (4L, "c", 7L))
      .toDF("k", "grp", "v").createOrReplaceTempView("mv_src4")
    spark.sql("INSERT INTO gmvs.ns.t4 SELECT * FROM mv_src4")
    val baseDir = s"$wh/ns/t4"
    val defSql = GraftMaterializedViews.registerAgg(spark, "mv_t4",
      "gmvs.ns.t4", baseDir, Seq("grp"), Seq("v"), s"$wh/ns/_mv_t4")
    val h0 = GraftMaterializedViews.hits("mv_t4")
    // mutate through every event shape: update (delete+insert pair),
    // erasure of a whole group, fresh inserts
    ManifestTable.merge(Seq((2L, "a", 200L)).toDF("k", "grp", "v"),
      baseDir, "k")                                   // a: 20 -> 200
    ManifestTable.delete(Seq(4L).toDF("k"), baseDir, "k") // group c vanishes
    ManifestTable.commit(Seq((5L, "b", 50L), (6L, "d", 1L))
      .toDF("k", "grp", "v"), baseDir, append = true)
    GraftMaterializedViews.refreshIncremental(spark, "mv_t4")
    // the maintained groups ≡ a from-scratch recompute over the base
    val served = spark.sql(defSql + " ORDER BY grp")
    assert(GraftMaterializedViews.hits("mv_t4") == h0 + 1,
      "the incrementally refreshed view must serve the rewrite")
    assert(served.as[(String, Long, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 210L, 2L), ("b", 2L, 55L, 2L), ("d", 1L, 1L, 1L)),
      "groups must net updates, drop at zero count, and admit new keys")
    // a no-op incremental refresh (no new commits) changes nothing
    GraftMaterializedViews.refreshIncremental(spark, "mv_t4")
    assert(spark.sql(defSql + " ORDER BY grp").collect().length == 3)
    // non-agg views refuse the incremental path loudly
    GraftMaterializedViews.register(spark, "mv_t4b",
      "SELECT k, v FROM gmvs.ns.t4", s"$wh/ns/_mv_t4b", Seq(baseDir))
    intercept[RuntimeException] {
      GraftMaterializedViews.refreshIncremental(spark, "mv_t4b")
    }
    GraftMaterializedViews.drop("mv_t4")
    GraftMaterializedViews.drop("mv_t4b")
  }

  test("CALL create_agg_mv / refresh_mv_incremental / drop_mv: the MV loop through SQL alone") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.t5 (k BIGINT, grp STRING, v BIGINT)")
    spark.sql("INSERT INTO gmvs.ns.t5 VALUES (1, 'a', 10), (2, 'b', 20)")
    val defSql = spark.sql(
      "CALL gmvs.system.create_agg_mv('sqlmv', 'ns.t5', 'grp', 'v')")
      .head.getString(0)
    val h0 = GraftMaterializedViews.hits("sqlmv")
    assert(spark.sql(defSql + " ORDER BY grp")
      .as[(String, Long, Long, Long)].collect().toSeq ==
      Seq(("a", 1L, 10L, 1L), ("b", 1L, 20L, 1L)))
    assert(GraftMaterializedViews.hits("sqlmv") == h0 + 1)
    spark.sql("INSERT INTO gmvs.ns.t5 VALUES (3, 'a', 30)")
    spark.sql("CALL gmvs.system.refresh_mv_incremental('sqlmv')").collect()
    assert(spark.sql(defSql + " ORDER BY grp")
      .as[(String, Long, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 40L, 2L), ("b", 1L, 20L, 1L)))
    assert(GraftMaterializedViews.hits("sqlmv") == h0 + 2)
    // observability: list_mvs reports name/freshness/shape/hits
    val listed = spark.sql("CALL gmvs.system.list_mvs()")
      .collect().map(r => r.getString(0) ->
        ((r.getBoolean(1), r.getString(2), r.getLong(3)))).toMap
    assert(listed.contains("sqlmv"))
    assert(listed("sqlmv") == ((true, "agg", h0 + 2)),
      s"list_mvs must report the fresh agg view with its hits: $listed")
    spark.sql("INSERT INTO gmvs.ns.t5 VALUES (4, 'c', 1)")
    assert(!spark.sql("CALL gmvs.system.list_mvs()").collect()
      .find(_.getString(0) == "sqlmv").get.getBoolean(1),
      "list_mvs must report staleness after a base commit")
    spark.sql("CALL gmvs.system.drop_mv('sqlmv')").collect()
    assert(spark.sql(defSql).count() == 3) // still correct, from base
    assert(GraftMaterializedViews.hits("sqlmv") == h0 + 2)
    assert(!spark.sql("CALL gmvs.system.list_mvs()").collect()
      .exists(_.getString(0) == "sqlmv"))
  }

  test("CALL create_minmax_mv / create_join_mv: the r14 shapes through SQL alone") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.p9f (k BIGINT, jk BIGINT, v BIGINT)")
    spark.sql("CREATE TABLE gmvs.ns.p9d (jk BIGINT, grp STRING)")
    spark.sql("INSERT INTO gmvs.ns.p9f VALUES (1,0,10),(2,1,20),(3,0,30)")
    spark.sql("INSERT INTO gmvs.ns.p9d VALUES (0,'a'),(1,'b')")
    val jSql = spark.sql("CALL gmvs.system.create_join_mv('sqljmv', " +
      "'ns.p9f', 'ns.p9d', 'jk', 'grp', 'v')").head.getString(0)
    val h0 = GraftMaterializedViews.hits("sqljmv")
    assert(spark.sql(jSql + " ORDER BY grp")
      .as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 40L), ("b", 1L, 20L)))
    assert(GraftMaterializedViews.hits("sqljmv") == h0 + 1)
    // both feeds fold through the SQL refresh verb
    ManifestTable.commit(Seq((4L, 1L, 5L)).toDF("k", "jk", "v"),
      s"$wh/ns/p9f", append = true)
    ManifestTable.merge(Seq((0L, "c")).toDF("jk", "grp"), s"$wh/ns/p9d", "jk")
    spark.sql("CALL gmvs.system.refresh_mv_incremental('sqljmv')").collect()
    assert(spark.sql(jSql + " ORDER BY grp")
      .as[(String, Long, Long)].collect().toSeq ==
      Seq(("b", 2L, 25L), ("c", 2L, 40L)))
    assert(GraftMaterializedViews.hits("sqljmv") == h0 + 2)
    spark.sql("CALL gmvs.system.drop_mv('sqljmv')").collect()

    spark.sql("CREATE TABLE gmvs.ns.p9m (k BIGINT, grp STRING, v BIGINT)")
    spark.sql("INSERT INTO gmvs.ns.p9m VALUES (1,'a',10),(2,'a',20),(3,'b',5)")
    val mSql = spark.sql("CALL gmvs.system.create_minmax_mv('sqlmmv', " +
      "'ns.p9m', 'grp', 'v', 'v', 'v')").head.getString(0)
    assert(mSql.contains("min(v) AS min_v") && mSql.contains("max(v) AS max_v"))
    val h1 = GraftMaterializedViews.hits("sqlmmv")
    spark.sql(mSql).collect()
    assert(GraftMaterializedViews.hits("sqlmmv") == h1 + 1)
    // the adversarial delete through the SQL verb: a's max vanishes
    ManifestTable.delete(Seq(2L).toDF("k"), s"$wh/ns/p9m", "k")
    spark.sql("CALL gmvs.system.refresh_mv_incremental('sqlmmv')").collect()
    assert(spark.sql(mSql + " ORDER BY grp")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq ==
      Seq(("a", 1L, 10L, 10L, 10L, 1L), ("b", 1L, 5L, 5L, 5L, 1L)))
    spark.sql("CALL gmvs.system.drop_mv('sqlmmv')").collect()
  }

  test("time travel never false-matches; a second table with the same shape never collides") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.t2 (grp STRING, v BIGINT)")
    Seq(("x", 5L)).toDF("grp", "v").createOrReplaceTempView("mv_src2")
    spark.sql("INSERT INTO gmvs.ns.t2 SELECT * FROM mv_src2")
    val defSql = "SELECT grp, sum(v) AS total FROM gmvs.ns.t2 GROUP BY grp"
    GraftMaterializedViews.register(spark, "mv_t2", defSql,
      s"$wh/ns/_mv_t2", deps = Seq(s"$wh/ns/t2"))
    val h0 = GraftMaterializedViews.hits("mv_t2")
    // a VERSION AS OF query over the same table carries a PINNED version
    // in its relation fingerprint — it must compute from the snapshot,
    // never the MV
    spark.sql("SELECT grp, sum(v) AS total FROM gmvs.ns.t2 VERSION AS OF 1 " +
      "GROUP BY grp").collect()
    assert(GraftMaterializedViews.hits("mv_t2") == h0,
      "time-travel reads must never be served from a current-version MV")
    // same shape, DIFFERENT table → different fingerprint → no rewrite
    spark.sql("CREATE TABLE gmvs.ns.t3 (grp STRING, v BIGINT)")
    spark.sql("INSERT INTO gmvs.ns.t3 VALUES ('x', 7)")
    val other = spark.sql("SELECT grp, sum(v) AS total FROM gmvs.ns.t3 GROUP BY grp")
    assert(other.as[(String, Long)].collect().toSeq == Seq(("x", 7L)))
    assert(GraftMaterializedViews.hits("mv_t2") == h0)
    // the exact definition still serves
    assert(spark.sql(defSql).as[(String, Long)].collect().toSeq ==
      Seq(("x", 5L)))
    assert(GraftMaterializedViews.hits("mv_t2") == h0 + 1)
    GraftMaterializedViews.drop("mv_t2")
  }

  test("min/max MV: a deleted extremum recovers the true runner-up via touched-group re-aggregation") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.mm (k BIGINT, grp STRING, v BIGINT)")
    spark.sql("INSERT INTO gmvs.ns.mm VALUES " +
      "(1,'a',10),(2,'a',20),(3,'a',15),(4,'b',5),(5,'b',8),(6,'c',99)")
    val baseDir = s"$wh/ns/mm"
    val defSql = GraftMaterializedViews.registerAgg(spark, "mv_mm",
      "gmvs.ns.mm", baseDir, Seq("grp"), Seq("v"), s"$wh/ns/_mv_mm",
      minCols = Seq("v"), maxCols = Seq("v"))
    assert(defSql.contains("min(v) AS min_v") &&
      defSql.contains("max(v) AS max_v"))
    val h0 = GraftMaterializedViews.hits("mv_mm")
    assert(spark.sql(defSql + " ORDER BY grp")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq ==
      Seq(("a", 3L, 45L, 10L, 20L, 3L), ("b", 2L, 13L, 5L, 8L, 2L),
        ("c", 1L, 99L, 99L, 99L, 1L)))
    assert(GraftMaterializedViews.hits("mv_mm") == h0 + 1)
    // delete a's CURRENT MAX (k=2, v=20) and b's CURRENT MIN (k=4, v=5);
    // the true runner-ups (15, 8) live only in the base — a subtractive
    // fold cannot recover them. Erase group c entirely. Untouched
    // groups… there are none here, so also insert a fresh group d to
    // pin that recompute admits new groups.
    ManifestTable.delete(Seq(2L, 4L, 6L).toDF("k"), baseDir, "k")
    ManifestTable.commit(Seq((7L, "d", 3L)).toDF("k", "grp", "v"),
      baseDir, append = true)
    val q2 = spark.sql(defSql + " ORDER BY grp").localCheckpoint()
    assert(GraftMaterializedViews.hits("mv_mm") == h0 + 1,
      "the stale min/max MV must not serve")
    GraftMaterializedViews.refreshIncremental(spark, "mv_mm")
    val q3 = spark.sql(defSql + " ORDER BY grp")
    assert(GraftMaterializedViews.hits("mv_mm") == h0 + 2)
    assert(q3.as[(String, Long, Long, Long, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 25L, 10L, 15L, 2L), ("b", 1L, 8L, 8L, 8L, 1L),
        ("d", 1L, 3L, 3L, 3L, 1L)),
      "deleted extrema must recover the runner-up; zero-count groups " +
        "drop; new groups admit")
    assert(q3.exceptAll(q2).isEmpty && q2.exceptAll(q3).isEmpty)
    // an update that RAISES the max folds through the same path
    ManifestTable.merge(Seq((1L, "a", 70L)).toDF("k", "grp", "v"),
      baseDir, "k")
    GraftMaterializedViews.refreshIncremental(spark, "mv_mm")
    assert(spark.sql(defSql + " ORDER BY grp")
      .as[(String, Long, Long, Long, Long, Long)].collect().head ==
      (("a", 2L, 85L, 15L, 70L, 2L)))
    GraftMaterializedViews.drop("mv_mm")
  }

  test("declared-avg MV: the average re-derives from the folded sum/NON-NULL-count partials") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.av (k BIGINT, grp STRING, v BIGINT)")
    spark.sql("INSERT INTO gmvs.ns.av VALUES (1,'a',10),(2,'a',20),(3,'b',7)")
    val baseDir = s"$wh/ns/av"
    // avg must ride a declared sum (it is DERIVED, not distributive)
    intercept[IllegalArgumentException] {
      GraftMaterializedViews.registerAgg(spark, "mv_av_bad", "gmvs.ns.av",
        baseDir, Seq("grp"), Nil, s"$wh/ns/_mv_avb", avgCols = Seq("v"))
    }
    val defSql = GraftMaterializedViews.registerAgg(spark, "mv_av",
      "gmvs.ns.av", baseDir, Seq("grp"), Seq("v"), s"$wh/ns/_mv_av",
      avgCols = Seq("v"))
    // avg stores its NON-NULL count partial: SQL avg(v) = sum(v)/count(v)
    assert(defSql.contains("avg(v) AS avg_v") &&
      defSql.contains("count(v) AS cnt_v"))
    val h0 = GraftMaterializedViews.hits("mv_av")
    assert(spark.sql(defSql + " ORDER BY grp")
      .as[(String, Long, Long, Double, Long)].collect().toSeq ==
      Seq(("a", 2L, 30L, 15.0, 2L), ("b", 1L, 7L, 7.0, 1L)))
    assert(GraftMaterializedViews.hits("mv_av") == h0 + 1)
    // delete + insert shift the mean; ONE feed fold must re-derive it
    ManifestTable.delete(Seq(1L).toDF("k"), baseDir, "k")
    ManifestTable.commit(Seq((4L, "a", 40L), (5L, "b", 1L))
      .toDF("k", "grp", "v"), baseDir, append = true)
    val q2 = spark.sql(defSql + " ORDER BY grp").localCheckpoint()
    GraftMaterializedViews.refreshIncremental(spark, "mv_av")
    val q3 = spark.sql(defSql + " ORDER BY grp")
    assert(GraftMaterializedViews.hits("mv_av") == h0 + 2)
    assert(q3.as[(String, Long, Long, Double, Long)].collect().toSeq ==
      Seq(("a", 2L, 60L, 30.0, 2L), ("b", 2L, 8L, 4.0, 2L)))
    assert(q3.exceptAll(q2).isEmpty && q2.exceptAll(q3).isEmpty,
      "the derived average must bit-equal Spark's own avg over the base")
    // the ADVICE r14 killer: a group whose avg column carries NULLs —
    // dividing by count(*) instead of count(v) would serve 4.5 for 'c'
    // after the fold, to every exact-match query, silently
    ManifestTable.commit(Seq((6L, "c", null.asInstanceOf[java.lang.Long]),
        (7L, "c", java.lang.Long.valueOf(9L)))
      .toDF("k", "grp", "v").select($"k", $"grp", $"v".cast("bigint")),
      baseDir, append = true)
    val qn = spark.sql(defSql + " ORDER BY grp").localCheckpoint()
    GraftMaterializedViews.refreshIncremental(spark, "mv_av")
    val qn2 = spark.sql(defSql + " ORDER BY grp")
    assert(GraftMaterializedViews.hits("mv_av") == h0 + 3)
    assert(qn2.where($"grp" === "c")
      .as[(String, Long, Long, Double, Long)].head() ==
      (("c", 2L, 9L, 9.0, 1L)),
      "avg over a NULL-laden group must divide by the non-null count")
    assert(qn2.exceptAll(qn).isEmpty && qn.exceptAll(qn2).isEmpty)
    // delete the group's LAST non-null value: count(v) reaches 0 and
    // both sum and avg return to NULL while the group survives — the
    // edge only the stored count(v) partial can see
    ManifestTable.delete(Seq(7L).toDF("k"), baseDir, "k")
    val qz = spark.sql(defSql + " ORDER BY grp").localCheckpoint()
    GraftMaterializedViews.refreshIncremental(spark, "mv_av")
    val qz2 = spark.sql(defSql + " ORDER BY grp")
    assert(GraftMaterializedViews.hits("mv_av") == h0 + 4)
    val cRow = qz2.where($"grp" === "c").collect().head
    assert(cRow.getLong(1) == 1L && cRow.isNullAt(2) && cRow.isNullAt(3) &&
      cRow.getLong(4) == 0L,
      s"an all-NULL group must fold sum and avg back to NULL: $cRow")
    assert(qz2.exceptAll(qz).isEmpty && qz.exceptAll(qz2).isEmpty)
    GraftMaterializedViews.drop("mv_av")
  }

  test("bare-sum MV: deleting a group's last non-null value folds sum to NULL (ADVICE r15)") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.bs (k BIGINT, grp STRING, v BIGINT)")
    ManifestTable.commit(Seq(
        (1L, "a", null.asInstanceOf[java.lang.Long]),
        (2L, "a", java.lang.Long.valueOf(5L)),
        (3L, "b", java.lang.Long.valueOf(7L)))
      .toDF("k", "grp", "v").select($"k", $"grp", $"v".cast("bigint")),
      s"$wh/ns/bs", append = true): Unit
    val baseDir = s"$wh/ns/bs"
    // NO avg declaration: since r16 every sum column carries its own
    // count(c) partial, so the delete-last-non-null edge is exact for
    // bare sums too (they used to fold to 0 where a recompute says NULL)
    val defSql = GraftMaterializedViews.registerAgg(spark, "mv_bs",
      "gmvs.ns.bs", baseDir, Seq("grp"), Seq("v"), s"$wh/ns/_mv_bs")
    assert(defSql.contains("count(v) AS cnt_v"))
    ManifestTable.delete(Seq(2L).toDF("k"), baseDir, "k")
    GraftMaterializedViews.refreshIncremental(spark, "mv_bs")
    val served = spark.sql(defSql + " ORDER BY grp").localCheckpoint()
    val aRow = served.collect().head
    assert(aRow.getString(0) == "a" && aRow.getLong(1) == 1L &&
      aRow.isNullAt(2) && aRow.getLong(3) == 0L,
      s"the surviving all-NULL group must fold its bare sum to NULL: $aRow")
    val expect = ManifestTable.read(spark, baseDir).groupBy($"grp")
      .agg(count(lit(1)).as("n_rows"), sum($"v").as("sum_v"),
        count($"v").as("cnt_v"))
    assert(served.exceptAll(expect).isEmpty && expect.exceptAll(served).isEmpty,
      "the bare-sum fold must equal the from-base recompute on the " +
        "delete-last-non-null edge")
    GraftMaterializedViews.drop("mv_bs")
  }

  test("filtered view: WHERE scopes the registration; refresh folds only the slice; containment composes (r16)") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.fw (k BIGINT, day BIGINT, grp STRING, v BIGINT)")
    spark.sql("INSERT INTO gmvs.ns.fw VALUES " +
      "(1,3,'a',10),(2,5,'a',20),(3,7,'b',5),(4,9,'b',3),(5,2,'b',50)")
    val baseDir = s"$wh/ns/fw"
    // a non-deterministic predicate cannot fold (an insert and its later
    // delete could classify differently) — refuse at registration
    intercept[IllegalArgumentException] {
      GraftMaterializedViews.registerAgg(spark, "mv_fw_bad", "gmvs.ns.fw",
        baseDir, Seq("grp"), Seq("v"), s"$wh/ns/_mv_fwb",
        where = Some("rand() < 0.5"))
    }
    // the hot-window shape: only day >= 5 enters the view
    val defSql = GraftMaterializedViews.registerAgg(spark, "mv_fw",
      "gmvs.ns.fw", baseDir, Seq("grp"), Seq("v"), s"$wh/ns/_mv_fw",
      where = Some("day >= 5"))
    assert(defSql.contains("WHERE day >= 5"))
    val h0 = GraftMaterializedViews.hits("mv_fw")
    assert(spark.sql(defSql + " ORDER BY grp")
      .as[(String, Long, Long, Long)].collect().toSeq ==
      Seq(("a", 1L, 20L, 1L), ("b", 2L, 8L, 2L)))
    assert(GraftMaterializedViews.hits("mv_fw") == h0 + 1,
      "the exact filtered definition must serve from the MV")
    // out-of-window rows are provably ABSENT from the materialization
    val mvRows = ManifestTable.read(spark, s"$wh/ns/_mv_fw")
    assert(mvRows.agg(sum($"n_rows")).as[Long].head() == 3L,
      "only in-window rows may enter the MV")
    // feed fold: in-window insert + out-of-window insert + one delete on
    // EACH side of the window — the out-of-window delete must be a no-op
    ManifestTable.commit(Seq((6L, 8L, "a", 7L), (7L, 1L, "a", 999L))
      .toDF("k", "day", "grp", "v"), baseDir, append = true)
    ManifestTable.delete(Seq(3L, 5L).toDF("k"), baseDir, "k")
    GraftMaterializedViews.refreshIncremental(spark, "mv_fw")
    val served = spark.sql(defSql + " ORDER BY grp").localCheckpoint()
    assert(GraftMaterializedViews.hits("mv_fw") == h0 + 2)
    val expect = ManifestTable.read(spark, baseDir).where($"day" >= 5)
      .groupBy($"grp").agg(count(lit(1)).as("n_rows"),
        sum($"v").as("sum_v"), count($"v").as("cnt_v"))
    assert(served.exceptAll(expect).isEmpty && expect.exceptAll(served).isEmpty,
      "the filtered fold must equal the from-base filtered recompute")
    // containment over the SAME WHERE: the unpeeled child fingerprint
    // matches the filtered view, so any contained grain serves
    val qr = spark.sql("SELECT grp, count(*) AS n FROM gmvs.ns.fw " +
      "WHERE day >= 5 GROUP BY grp ORDER BY grp")
    assert(qr.as[(String, Long)].collect().toSeq ==
      Seq(("a", 2L), ("b", 1L)))
    assert(GraftMaterializedViews.hits("mv_fw") == h0 + 3,
      "a contained grain repeating the view's WHERE must serve")
    assert(qr.queryExecution.executedPlan.toString.contains("_mv_fw"))
    val qg = spark.sql("SELECT sum(v) AS s FROM gmvs.ns.fw WHERE day >= 5")
    assert(qg.as[Long].head() == 30L)
    assert(GraftMaterializedViews.hits("mv_fw") == h0 + 4,
      "the filtered GLOBAL aggregate must serve")
    // fail closed: the unfiltered query and an EXTENDED predicate see
    // rows the view never stored
    spark.sql("SELECT grp, count(*) AS n FROM gmvs.ns.fw GROUP BY grp")
      .collect()
    spark.sql("SELECT grp, count(*) AS n FROM gmvs.ns.fw " +
      "WHERE day >= 5 AND v > 5 GROUP BY grp").collect()
    assert(GraftMaterializedViews.hits("mv_fw") == h0 + 4,
      "unfiltered and extended-predicate queries must fail closed")
    GraftMaterializedViews.drop("mv_fw")

    // the min/max (touched-group) path recomputes from the FILTERED base
    spark.sql("CREATE TABLE gmvs.ns.fwm (k BIGINT, day BIGINT, grp STRING, v BIGINT)")
    spark.sql("INSERT INTO gmvs.ns.fwm VALUES " +
      "(1,6,'a',10),(2,7,'a',20),(3,2,'a',999),(4,8,'b',5)")
    val mmSql = GraftMaterializedViews.registerAgg(spark, "mv_fwm",
      "gmvs.ns.fwm", s"$wh/ns/fwm", Seq("grp"), Seq("v"), s"$wh/ns/_mv_fwm",
      minCols = Seq("v"), maxCols = Seq("v"), where = Some("day >= 5"))
    // delete a's in-window max (k=2): the runner-up must come from the
    // filtered base — an unfiltered recompute would resurrect the
    // out-of-window 999 as the new max
    ManifestTable.delete(Seq(2L).toDF("k"), s"$wh/ns/fwm", "k")
    GraftMaterializedViews.refreshIncremental(spark, "mv_fwm")
    assert(spark.sql(mmSql + " ORDER BY grp")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq ==
      Seq(("a", 1L, 10L, 10L, 10L, 1L), ("b", 1L, 5L, 5L, 5L, 1L)),
      "the touched-group recompute must scan the FILTERED base — an " +
        "out-of-window row must never become the new extremum")
    GraftMaterializedViews.drop("mv_fwm")

    // durable: the predicate round-trips the sidecar and keeps folding
    spark.sql("CREATE TABLE gmvs.ns.fwd (k BIGINT, day BIGINT, grp STRING, v BIGINT)")
    spark.sql("INSERT INTO gmvs.ns.fwd VALUES (1,6,'a',10),(2,2,'a',99)")
    val dSql = GraftMaterializedViews.registerAgg(spark, "mv_fwd",
      "gmvs.ns.fwd", s"$wh/ns/fwd", Seq("grp"), Seq("v"), s"$wh/ns/_mv_fwd",
      persistDir = Some(s"$wh/_mv"), where = Some("day >= 5"))
    GraftMaterializedViews.forgetInMemory()
    GraftMaterializedViews.loadFrom(s"$wh/_mv")
    spark.sql("INSERT INTO gmvs.ns.fwd VALUES (3,7,'a',5),(4,1,'a',77)")
    GraftMaterializedViews.refreshIncremental(spark, "mv_fwd")
    val hd = GraftMaterializedViews.hits("mv_fwd")
    assert(spark.sql(dSql).as[(String, Long, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 15L, 2L)),
      "the reloaded filtered view must fold only the in-window delta")
    assert(GraftMaterializedViews.hits("mv_fwd") == hd + 1)
    GraftMaterializedViews.drop("mv_fwd")
  }

  test("registerJoinAgg: star MV refreshes from BOTH feeds via the delta-join identity") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.jf (k BIGINT, jk BIGINT, v BIGINT)")
    spark.sql("CREATE TABLE gmvs.ns.jd (jk BIGINT, grp STRING)")
    spark.sql("INSERT INTO gmvs.ns.jf VALUES (1,0,10),(2,1,20),(3,0,30),(4,2,40)")
    spark.sql("INSERT INTO gmvs.ns.jd VALUES (0,'a'),(1,'b'),(2,'a')")
    val fDir = s"$wh/ns/jf"; val dDir = s"$wh/ns/jd"
    val defSql = GraftMaterializedViews.registerJoinAgg(spark, "mv_join",
      "gmvs.ns.jf", fDir, "gmvs.ns.jd", dDir, "jk", Seq("grp"), Seq("v"),
      s"$wh/ns/_mv_join")
    val h0 = GraftMaterializedViews.hits("mv_join")
    val q1 = spark.sql(defSql + " ORDER BY grp")
    assert(q1.as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 3L, 80L), ("b", 1L, 20L)))
    assert(GraftMaterializedViews.hits("mv_join") == h0 + 1,
      "the exact star query must serve from the MV")
    // fact churn: reprice k=1, erase k=2 (grp b's only row), ingest k=5;
    // dim churn: jk=2 re-homes a → c — the F₀⋈ΔD leg must move k=4's
    // row AND the ΔF⋈ΔD leg must net k=5 into 'c', not 'a'
    ManifestTable.merge(Seq((1L, 0L, 100L)).toDF("k", "jk", "v"), fDir, "k")
    ManifestTable.delete(Seq(2L).toDF("k"), fDir, "k")
    ManifestTable.commit(Seq((5L, 2L, 5L)).toDF("k", "jk", "v"),
      fDir, append = true)
    ManifestTable.merge(Seq((2L, "c")).toDF("jk", "grp"), dDir, "jk")
    val q2 = spark.sql(defSql + " ORDER BY grp").localCheckpoint()
    assert(GraftMaterializedViews.hits("mv_join") == h0 + 1,
      "the stale star MV must not serve")
    GraftMaterializedViews.refreshIncremental(spark, "mv_join")
    val q3 = spark.sql(defSql + " ORDER BY grp")
    assert(GraftMaterializedViews.hits("mv_join") == h0 + 2,
      "the incrementally refreshed star MV must serve again")
    assert(q3.as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 130L), ("c", 2L, 45L)),
      "delta-join fold: repriced row nets, erased group drops at zero, " +
        "re-homed dim rows migrate, new fact row lands in the NEW home")
    assert(q3.exceptAll(q2).isEmpty && q2.exceptAll(q3).isEmpty,
      "incrementally maintained star groups must equal the from-base join")
    // a no-op refresh (no new commits on either base) changes nothing
    GraftMaterializedViews.refreshIncremental(spark, "mv_join")
    assert(spark.sql(defSql).count() == 2)
    // dim-ONLY churn: jk=0 re-homes a → d; the refresh reads the fact
    // SNAPSHOT only as the probe side, never re-joining history twice
    ManifestTable.merge(Seq((0L, "d")).toDF("jk", "grp"), dDir, "jk")
    GraftMaterializedViews.refreshIncremental(spark, "mv_join")
    assert(spark.sql(defSql + " ORDER BY grp")
      .as[(String, Long, Long)].collect().toSeq ==
      Seq(("c", 2L, 45L), ("d", 2L, 130L)))
    GraftMaterializedViews.drop("mv_join")
  }

  test("maintenance-only version ranges refresh to a no-op (zero-event feed, r14 soak find)") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.t9 (k BIGINT, grp STRING, v BIGINT)")
    spark.sql("INSERT INTO gmvs.ns.t9 VALUES (1,'a',10),(2,'b',20),(3,'b',5)")
    val baseDir = s"$wh/ns/t9"
    val defSql = GraftMaterializedViews.registerAgg(spark, "mv_t9",
      "gmvs.ns.t9", baseDir, Seq("grp"), Seq("v"), s"$wh/ns/_mv_t9")
    // a binpack-only gap bumps the version but the feed carries ZERO
    // events and collapses to a schemaless empty relation — the fold
    // must advance the recorded version, not crash on it
    ManifestTable.compactSmall(spark, baseDir, Long.MaxValue): Unit
    GraftMaterializedViews.refreshIncremental(spark, "mv_t9")
    val h0 = GraftMaterializedViews.hits("mv_t9")
    assert(spark.sql(defSql + " ORDER BY grp")
      .as[(String, Long, Long, Long)].collect().toSeq ==
      Seq(("a", 1L, 10L, 1L), ("b", 2L, 25L, 2L)))
    assert(GraftMaterializedViews.hits("mv_t9") == h0 + 1,
      "the view must be FRESH after a maintenance-only refresh")
    GraftMaterializedViews.drop("mv_t9")

    // join view: dim-side maintenance-only → both delta legs drop;
    // then a REAL fact append mixed with another dim binpack → the
    // fact leg folds, the dim legs stay dropped
    spark.sql("CREATE TABLE gmvs.ns.jf9 (k BIGINT, jk BIGINT, v BIGINT)")
    spark.sql("CREATE TABLE gmvs.ns.jd9 (jk BIGINT, grp STRING)")
    spark.sql("INSERT INTO gmvs.ns.jf9 VALUES (1,0,10),(2,1,20)")
    spark.sql("INSERT INTO gmvs.ns.jd9 VALUES (0,'a'),(1,'b')")
    val jSql = GraftMaterializedViews.registerJoinAgg(spark, "mv_j9",
      "gmvs.ns.jf9", s"$wh/ns/jf9", "gmvs.ns.jd9", s"$wh/ns/jd9", "jk",
      Seq("grp"), Seq("v"), s"$wh/ns/_mv_j9")
    ManifestTable.compactSmall(spark, s"$wh/ns/jd9", Long.MaxValue): Unit
    GraftMaterializedViews.refreshIncremental(spark, "mv_j9")
    val h1 = GraftMaterializedViews.hits("mv_j9")
    assert(spark.sql(jSql + " ORDER BY grp")
      .as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 1L, 10L), ("b", 1L, 20L)))
    assert(GraftMaterializedViews.hits("mv_j9") == h1 + 1)
    ManifestTable.commit(Seq((3L, 0L, 7L)).toDF("k", "jk", "v"),
      s"$wh/ns/jf9", append = true)
    ManifestTable.compactSmall(spark, s"$wh/ns/jd9", Long.MaxValue): Unit
    GraftMaterializedViews.refreshIncremental(spark, "mv_j9")
    assert(spark.sql(jSql + " ORDER BY grp")
      .as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 17L), ("b", 1L, 20L)),
      "a real fact delta must fold while the dim's maintenance-only " +
        "range contributes nothing")
    GraftMaterializedViews.drop("mv_j9")
  }

  test("ROLLUP containment: coarser groupings re-aggregate the MV; non-rollupable shapes fail closed") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.ru (k BIGINT, g1 STRING, g2 STRING, v BIGINT)")
    spark.sql("INSERT INTO gmvs.ns.ru VALUES " +
      "(1,'a','x',10),(2,'a','y',20),(3,'b','x',5),(4,'b','x',3)")
    val baseDir = s"$wh/ns/ru"
    GraftMaterializedViews.registerAgg(spark, "mv_ru", "gmvs.ns.ru",
      baseDir, Seq("g1", "g2"), Seq("v"), s"$wh/ns/_mv_ru",
      minCols = Seq("v"), maxCols = Seq("v"))
    val h0 = GraftMaterializedViews.hits("mv_ru")
    // coarser grouping — every aggregate re-derives from the partials
    val q = spark.sql("SELECT g1, count(*) AS n, sum(v) AS sv, " +
      "min(v) AS mn, max(v) AS mx FROM gmvs.ns.ru GROUP BY g1 ORDER BY g1")
    assert(q.as[(String, Long, Long, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 30L, 10L, 20L), ("b", 2L, 8L, 3L, 5L)))
    assert(GraftMaterializedViews.hits("mv_ru") == h0 + 1,
      "a subset grouping must be served by re-aggregating the MV")
    assert(q.queryExecution.executedPlan.toString.contains("_mv_ru"),
      "the rolled-up plan must scan the MV table")
    // output order/aliasing freedom: aggregate before the group key
    val q2 = spark.sql("SELECT max(v) AS mx, g1 AS grp FROM gmvs.ns.ru " +
      "GROUP BY g1 ORDER BY g1")
    assert(q2.as[(Long, String)].collect().toSeq ==
      Seq((20L, "a"), (5L, "b")))
    assert(GraftMaterializedViews.hits("mv_ru") == h0 + 2)
    // group-cols-only (the DISTINCT shape)
    val q3 = spark.sql("SELECT g1 FROM gmvs.ns.ru GROUP BY g1 ORDER BY g1")
    assert(q3.as[String].collect().toSeq == Seq("a", "b"))
    assert(GraftMaterializedViews.hits("mv_ru") == h0 + 3)
    // EXPRESSION over a view group key (r15): deterministic functions of
    // keys are constant within an MV group — the rollup serves them
    val qe = spark.sql("SELECT upper(g1) AS u, sum(v) AS s FROM gmvs.ns.ru " +
      "GROUP BY upper(g1) ORDER BY u")
    assert(qe.as[(String, Long)].collect().toSeq ==
      Seq(("A", 30L), ("B", 8L)))
    assert(GraftMaterializedViews.hits("mv_ru") == h0 + 4,
      "a deterministic expression over view group keys must roll up")
    assert(qe.queryExecution.executedPlan.toString.contains("_mv_ru"))
    // count(col) and integral avg(col) serve from the cnt partials (r16):
    // count(v) = sum of per-group non-null counts, avg(v) = exact
    // sum-of-sums / sum-of-counts — the same double division Spark's
    // Average performs on integral input
    val qc = spark.sql("SELECT g1, count(v) AS n, avg(v) AS a " +
      "FROM gmvs.ns.ru GROUP BY g1 ORDER BY g1")
    assert(qc.as[(String, Long, Double)].collect().toSeq ==
      Seq(("a", 2L, 15.0), ("b", 2L, 4.0)))
    assert(GraftMaterializedViews.hits("mv_ru") == h0 + 5,
      "count(col)/avg(col) must be served from the stored cnt partials")
    assert(qc.queryExecution.executedPlan.toString.contains("_mv_ru"))
    // fail-closed battery: shapes the stored partials GENUINELY cannot
    // reproduce — count/avg of a column with no stored cnt partial,
    // DISTINCT over a non-key column (multiplicity was folded away),
    // FILTER over a non-key column, non-key group expressions, unstored
    // sums. (DISTINCT/FILTER over KEY columns serve since r16 — their
    // served pins live in the dedicated distinct/filter test.)
    spark.sql("SELECT g1, count(k) AS n FROM gmvs.ns.ru GROUP BY g1").collect()
    spark.sql("SELECT g1, avg(k) AS a FROM gmvs.ns.ru GROUP BY g1").collect()
    spark.sql("SELECT g1, count(DISTINCT v) AS n FROM gmvs.ns.ru GROUP BY g1")
      .collect()
    spark.sql("SELECT g1, sum(v) FILTER (WHERE v > 5) AS s " +
      "FROM gmvs.ns.ru GROUP BY g1").collect()
    // a group expression referencing a NON-key column cannot be
    // reproduced from the stored groups
    spark.sql("SELECT upper(cast(v AS STRING)) AS u, count(*) AS n " +
      "FROM gmvs.ns.ru GROUP BY upper(cast(v AS STRING))").collect()
    spark.sql("SELECT g1, sum(k) AS s FROM gmvs.ns.ru GROUP BY g1").collect()
    assert(GraftMaterializedViews.hits("mv_ru") == h0 + 5,
      "count/avg of an unstored column, non-key DISTINCT, non-key " +
        "FILTER, non-key-expression-group and unstored-sum must all " +
        "fail closed to the base")
    // staleness gates rollup exactly like exact-match
    spark.sql("INSERT INTO gmvs.ns.ru VALUES (5,'a','z',100)")
    val q4 = spark.sql("SELECT g1, sum(v) AS sv FROM gmvs.ns.ru " +
      "GROUP BY g1 ORDER BY g1")
    assert(q4.as[(String, Long)].collect().toSeq ==
      Seq(("a", 130L), ("b", 8L)))
    assert(GraftMaterializedViews.hits("mv_ru") == h0 + 5)
    GraftMaterializedViews.refreshIncremental(spark, "mv_ru")
    val q5 = spark.sql("SELECT g1, min(v) AS mn, sum(v) AS sv " +
      "FROM gmvs.ns.ru GROUP BY g1 ORDER BY g1")
    assert(q5.as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 10L, 130L), ("b", 3L, 8L)))
    assert(GraftMaterializedViews.hits("mv_ru") == h0 + 6,
      "refresh must re-arm the rollup path")
    // group-key FILTER containment: a WHERE on view group keys filters
    // the MV's rows (keys are constant within a group) — the base is
    // never scanned even for the predicate
    val qf = spark.sql("SELECT g1, sum(v) AS sv FROM gmvs.ns.ru " +
      "WHERE g2 = 'x' GROUP BY g1 ORDER BY g1")
    assert(qf.as[(String, Long)].collect().toSeq ==
      Seq(("a", 10L), ("b", 8L)))
    assert(GraftMaterializedViews.hits("mv_ru") == h0 + 7,
      "a group-key WHERE must transfer to the MV rows")
    assert(qf.queryExecution.executedPlan.toString.contains("_mv_ru"))
    // the filtered GLOBAL aggregate (coarsest lattice point + predicate)
    val qg = spark.sql("SELECT count(*) AS n FROM gmvs.ns.ru " +
      "WHERE g2 IN ('x', 'z')")
    assert(qg.as[Long].head() == 4L)
    assert(GraftMaterializedViews.hits("mv_ru") == h0 + 8)
    // a predicate on a NON-key column cannot transfer: fail closed
    spark.sql("SELECT g1, sum(v) AS sv FROM gmvs.ns.ru WHERE v > 4 " +
      "GROUP BY g1").collect()
    assert(GraftMaterializedViews.hits("mv_ru") == h0 + 8,
      "non-group-key predicates must fail closed to the base")
    GraftMaterializedViews.drop("mv_ru")

    // the JOIN view rolls up the same way: same join subtree, coarser keys
    spark.sql("CREATE TABLE gmvs.ns.rjf (k BIGINT, jk BIGINT, cat STRING, v BIGINT)")
    spark.sql("CREATE TABLE gmvs.ns.rjd (jk BIGINT, grp STRING)")
    spark.sql("INSERT INTO gmvs.ns.rjf VALUES " +
      "(1,0,'c1',10),(2,0,'c2',20),(3,1,'c1',5)")
    spark.sql("INSERT INTO gmvs.ns.rjd VALUES (0,'a'),(1,'b')")
    GraftMaterializedViews.registerJoinAgg(spark, "mv_rj",
      "gmvs.ns.rjf", s"$wh/ns/rjf", "gmvs.ns.rjd", s"$wh/ns/rjd", "jk",
      Seq("grp", "cat"), Seq("v"), s"$wh/ns/_mv_rj")
    val h1 = GraftMaterializedViews.hits("mv_rj")
    val jq = spark.sql("SELECT grp, count(*) AS n, sum(v) AS sv " +
      "FROM gmvs.ns.rjf JOIN gmvs.ns.rjd USING (jk) GROUP BY grp ORDER BY grp")
    assert(jq.as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 30L), ("b", 1L, 5L)))
    assert(GraftMaterializedViews.hits("mv_rj") == h1 + 1,
      "a coarser grouping over the SAME join subtree must roll up the " +
        "join MV — the fact is never re-joined")
    assert(jq.queryExecution.executedPlan.toString.contains("_mv_rj"))
    // a JOIN-DEFINED view serves a query that EXTENDS the same join
    // subtree with a further dim (r16 subtree join-back): the candidate
    // child is the internal node fact ⋈ rjd, the extra dim transplants
    val h2 = GraftMaterializedViews.hits("mv_rj")
    spark.sql("CREATE TABLE gmvs.ns.rjz (grp STRING, zone STRING)")
    spark.sql("INSERT INTO gmvs.ns.rjz VALUES ('a','north'),('b','south')")
    val jz = spark.sql("SELECT zone, count(*) AS n, sum(v) AS sv " +
      "FROM gmvs.ns.rjf JOIN gmvs.ns.rjd USING (jk) " +
      "JOIN gmvs.ns.rjz USING (grp) GROUP BY zone ORDER BY zone")
    assert(jz.as[(String, Long, Long)].collect().toSeq ==
      Seq(("north", 2L, 30L), ("south", 1L, 5L)))
    assert(GraftMaterializedViews.hits("mv_rj") == h2 + 1,
      "a join view extended by a further dim must serve via the " +
        "subtree join-back — the fact ⋈ rjd history is never re-joined")
    val pz2 = jz.queryExecution.executedPlan.toString
    assert(pz2.contains("_mv_rj") && !pz2.contains("ns/rjf"),
      "the extended-join plan must scan the MV, never the fact")
    GraftMaterializedViews.drop("mv_rj")
  }

  test("durable registry: a restarted session over the same warehouse re-arms the MV") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.t6 (k BIGINT, grp STRING, v BIGINT)")
    spark.sql("INSERT INTO gmvs.ns.t6 VALUES (1, 'a', 10), (2, 'b', 20), (3, 'a', 5)")
    // the CALL procedure always persists to the warehouse `_mv/` sidecar
    val defSql = spark.sql(
      "CALL gmvs.system.create_agg_mv('persmv', 'ns.t6', 'grp', 'v')")
      .head.getString(0)
    assert(spark.sql(defSql + " ORDER BY grp")
      .as[(String, Long, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 15L, 2L), ("b", 1L, 20L, 1L)))
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(s"$wh/_mv"))
      .anyMatch(p => p.getFileName.toString.startsWith("persmv.g")),
      "the registration must land in the warehouse _mv/ sidecar")
    // simulate a JVM restart: in-memory registry gone, sidecar remains
    GraftMaterializedViews.forgetInMemory()
    assert(GraftMaterializedViews.hits("persmv") +
      spark.sql(defSql).count() >= 2) // from base — no view armed
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.gmvs", "graft.sources.v2.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gmvs.warehouse", wh)
    s2.sql("SHOW TABLES IN gmvs.ns").collect() // initialize → loadFrom
    val h0 = GraftMaterializedViews.hits("persmv")
    val q = s2.sql(defSql + " ORDER BY grp")
    assert(q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
      .toSeq == Seq(("a", 2L, 15L, 2L), ("b", 1L, 20L, 1L)))
    assert(GraftMaterializedViews.hits("persmv") == h0 + 1,
      "the reloaded view must serve the rewrite in the new session")
    assert(q.queryExecution.executedPlan.toString.contains("_mv_persmv"),
      "the new session's executed plan must scan the persisted MV table")
    // staleness semantics survive the reload: a base commit fails closed
    s2.sql("INSERT INTO gmvs.ns.t6 VALUES (4, 'b', 1)")
    s2.sql(defSql).collect()
    assert(GraftMaterializedViews.hits("persmv") == h0 + 1)
    // drop tombstones the sidecar: another restart must NOT resurrect it
    GraftMaterializedViews.drop("persmv")
    GraftMaterializedViews.forgetInMemory()
    GraftMaterializedViews.loadFrom(s"$wh/_mv")
    assert(GraftMaterializedViews.hits("persmv") +
      spark.sql(defSql).count() >= 2)
    val h1 = GraftMaterializedViews.hits("persmv")
    spark.sql(defSql).collect()
    assert(GraftMaterializedViews.hits("persmv") == h1,
      "a dropped view must stay dropped across restarts")
  }

  test("definitions over non-manifest relations refuse (no trackable identity)") {
    wh: Unit
    Seq((1L, "a"), (2L, "b")).toDF("k", "grp")
      .createOrReplaceTempView("mv_raw_src")
    val e = intercept[IllegalArgumentException] {
      GraftMaterializedViews.register(spark, "bad_mv",
        "SELECT grp, count(*) AS n FROM mv_raw_src GROUP BY grp",
        s"$wh/ns/_mv_bad", deps = Nil)
    }
    assert(e.getMessage.contains("manifest-backed"),
      s"refusal must name the contract, got: ${e.getMessage}")
    assert(GraftMaterializedViews.hits("bad_mv") == 0L)
  }

  test("refresh of a still-fresh view reads the base, never its own materialization") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.t7 (grp STRING, v BIGINT)")
    spark.sql("INSERT INTO gmvs.ns.t7 VALUES ('a', 1), ('a', 2), ('b', 3)")
    val defSql = "SELECT grp, count(*) AS n, sum(v) AS total " +
      "FROM gmvs.ns.t7 GROUP BY grp"
    GraftMaterializedViews.register(spark, "mv_t7", defSql,
      s"$wh/ns/_mv_t7", deps = Seq(s"$wh/ns/t7"))
    val h0 = GraftMaterializedViews.hits("mv_t7")
    spark.sql(defSql).collect()
    assert(GraftMaterializedViews.hits("mv_t7") == h0 + 1)
    // the view is STILL FRESH here: without suppression, the refresh's
    // definition query would exact-match the armed view, materialize the
    // MV from itself, and store a fingerprint of the REWRITTEN plan —
    // permanently killing future matches (and double-counting a hit)
    GraftMaterializedViews.refresh(spark, "mv_t7")
    assert(GraftMaterializedViews.hits("mv_t7") == h0 + 1,
      "a refresh must never count as a rewrite hit")
    val q = spark.sql(defSql + " ORDER BY grp")
    assert(q.as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 3L), ("b", 1L, 3L)))
    assert(GraftMaterializedViews.hits("mv_t7") == h0 + 2,
      "the exact query must still serve after an idle refresh " +
        "(self-rewrite would have poisoned the fingerprint)")
    GraftMaterializedViews.drop("mv_t7")
  }

  test("snowflake MV: a 3-table chain refreshes from ALL feeds via the telescoping identity (r15)") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.sf (k BIGINT, pk BIGINT, v BIGINT)")
    spark.sql("CREATE TABLE gmvs.ns.sd1 (pk BIGINT, rk BIGINT, cat STRING)")
    spark.sql("CREATE TABLE gmvs.ns.sd2 (rk BIGINT, reg STRING)")
    spark.sql("INSERT INTO gmvs.ns.sf VALUES (1,0,10),(2,1,20),(3,0,30),(4,2,40)")
    spark.sql("INSERT INTO gmvs.ns.sd1 VALUES (0,0,'c0'),(1,1,'c1'),(2,0,'c2')")
    spark.sql("INSERT INTO gmvs.ns.sd2 VALUES (0,'ra'),(1,'rb')")
    val (fDir, d1Dir, d2Dir) = (s"$wh/ns/sf", s"$wh/ns/sd1", s"$wh/ns/sd2")
    val defSql = GraftMaterializedViews.registerSnowflakeAgg(spark, "mv_snow",
      Seq("gmvs.ns.sf" -> fDir, "gmvs.ns.sd1" -> d1Dir, "gmvs.ns.sd2" -> d2Dir),
      Seq("pk", "rk"), Seq("reg", "cat"), Seq("v"), s"$wh/ns/_mv_snow")
    val h0 = GraftMaterializedViews.hits("mv_snow")
    assert(spark.sql(defSql + " ORDER BY reg, cat")
      .as[(String, String, Long, Long)].collect().toSeq ==
      Seq(("ra", "c0", 2L, 40L), ("ra", "c2", 1L, 40L), ("rb", "c1", 1L, 20L)))
    assert(GraftMaterializedViews.hits("mv_snow") == h0 + 1,
      "the exact snowflake query must serve from the MV")
    // mutate ALL THREE sides in one window: fact reprice/erase/ingest;
    // dim1 re-homes pk=2 to a different region key (k=4/k=5 rows must
    // MIGRATE reg); dim2 renames region rk=0 (second-level re-home)
    ManifestTable.merge(Seq((1L, 0L, 100L)).toDF("k", "pk", "v"), fDir, "k")
    ManifestTable.delete(Seq(2L).toDF("k"), fDir, "k")
    ManifestTable.commit(Seq((5L, 2L, 5L)).toDF("k", "pk", "v"),
      fDir, append = true)
    ManifestTable.merge(Seq((2L, 1L, "c2")).toDF("pk", "rk", "cat"), d1Dir, "pk")
    ManifestTable.merge(Seq((0L, "rz")).toDF("rk", "reg"), d2Dir, "rk")
    val q2 = spark.sql(defSql + " ORDER BY reg, cat").localCheckpoint()
    assert(GraftMaterializedViews.hits("mv_snow") == h0 + 1,
      "the stale snowflake MV must not serve")
    // ALL-changed discipline: per-(side, version) snapshots memoize
    // across legs, so the 3-leg refresh reads at most 2k−2 = 4 distinct
    // snapshots (fact@head, d1@head, d1@rec, d2@rec), never O(k²)
    val rAll = GraftMaterializedViews.refreshSnapshotReads.get()
    GraftMaterializedViews.refreshIncremental(spark, "mv_snow")
    assert(GraftMaterializedViews.refreshSnapshotReads.get() <= rAll + 4,
      "an all-k-sides-changed refresh must read at most 2k-2 distinct " +
        "snapshots (memoized across legs)")
    val q3 = spark.sql(defSql + " ORDER BY reg, cat")
    assert(GraftMaterializedViews.hits("mv_snow") == h0 + 2)
    assert(q3.as[(String, String, Long, Long)].collect().toSeq ==
      Seq(("rb", "c2", 2L, 45L), ("rz", "c0", 2L, 130L)),
      "one telescoped refresh must net fact churn, first- AND " +
        "second-level dim re-homing")
    assert(q3.exceptAll(q2).isEmpty && q2.exceptAll(q3).isEmpty,
      "the telescoped fold must equal the from-base 3-way join")
    // single-changed-side discipline: a dim2-only delta builds ONE leg
    // reading exactly k-1 = 2 snapshots — the 3-way history join is
    // never re-executed, and nothing at all reads when nothing changed
    val r0 = GraftMaterializedViews.refreshSnapshotReads.get()
    ManifestTable.merge(Seq((1L, "ry")).toDF("rk", "reg"), d2Dir, "rk")
    GraftMaterializedViews.refreshIncremental(spark, "mv_snow")
    assert(GraftMaterializedViews.refreshSnapshotReads.get() == r0 + 2,
      "a single-changed-side refresh must read exactly k-1 snapshots")
    assert(spark.sql(defSql + " ORDER BY reg, cat")
      .as[(String, String, Long, Long)].collect().toSeq ==
      Seq(("ry", "c2", 2L, 45L), ("rz", "c0", 2L, 130L)))
    val r1 = GraftMaterializedViews.refreshSnapshotReads.get()
    GraftMaterializedViews.refreshIncremental(spark, "mv_snow")
    assert(GraftMaterializedViews.refreshSnapshotReads.get() == r1,
      "an all-unchanged refresh must read zero snapshots")
    // maintenance-only range on the fact collapses its leg while a real
    // dim1 delta still folds (pk=0 re-homes: k=1/k=3 migrate to 'ry')
    ManifestTable.compactSmall(spark, fDir, Long.MaxValue): Unit
    ManifestTable.merge(Seq((0L, 1L, "c0")).toDF("pk", "rk", "cat"), d1Dir, "pk")
    GraftMaterializedViews.refreshIncremental(spark, "mv_snow")
    val q4 = spark.sql(defSql + " ORDER BY reg, cat")
    assert(q4.as[(String, String, Long, Long)].collect().toSeq ==
      Seq(("ry", "c0", 2L, 130L), ("ry", "c2", 2L, 45L)),
      "a binpacked fact contributes no leg; the dim delta still folds")
    // ROLLUP containment composes: a coarser grouping over the SAME
    // 3-way join subtree re-aggregates the snowflake MV
    val hr = GraftMaterializedViews.hits("mv_snow")
    val rq = spark.sql("SELECT reg, sum(v) AS sv FROM gmvs.ns.sf " +
      "JOIN gmvs.ns.sd1 USING (pk) JOIN gmvs.ns.sd2 USING (rk) " +
      "GROUP BY reg ORDER BY reg")
    assert(rq.as[(String, Long)].collect().toSeq == Seq(("ry", 175L)))
    assert(GraftMaterializedViews.hits("mv_snow") == hr + 1,
      "the coarser grouping must roll up the snowflake MV")
    assert(rq.queryExecution.executedPlan.toString.contains("_mv_snow"))
    // the SQL verb drives the same lifecycle (durable via the sidecar)
    val sqlSnow = spark.sql("CALL gmvs.system.create_snowflake_mv(" +
      "'sqlsnow', 'ns.sf,ns.sd1,ns.sd2', 'pk,rk', 'reg,cat', 'v')")
      .head.getString(0)
    val hs = GraftMaterializedViews.hits("sqlsnow")
    assert(spark.sql(sqlSnow).count() == 2)
    assert(GraftMaterializedViews.hits("sqlsnow") == hs + 1)
    assert(spark.sql("CALL gmvs.system.list_mvs()").collect()
      .find(_.getString(0) == "sqlsnow").get.getString(2) == "snowflake-agg")
    spark.sql("CALL gmvs.system.drop_mv('sqlsnow')").collect()
    GraftMaterializedViews.drop("mv_snow")
  }

  test("distinct-count MV: sketch partials maintain incrementally; estimate rewrites fail closed (r15)") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.dc (k BIGINT, g1 STRING, g2 STRING, u BIGINT)")
    spark.sql("INSERT INTO gmvs.ns.dc VALUES " +
      "(1,'a','x',10),(2,'a','x',11),(3,'a','y',10),(4,'b','x',12),(5,'b','y',12)")
    val baseDir = s"$wh/ns/dc"
    val defSql = GraftMaterializedViews.registerAgg(spark, "mv_dc",
      "gmvs.ns.dc", baseDir, Seq("g1", "g2"), Nil, s"$wh/ns/_mv_dc",
      distinctCols = Seq("u"))
    assert(defSql.contains("hll_sketch_agg(u) AS hll_u"))
    // NO sketch-derived shape is ever substituted: estimates are
    // merge-structure-dependent (HIP vs composite — SketchesSpec
    // shows the direct and union-of-parts estimates differing at
    // |set| = 1000) and raw bytes encoding-dependent. Approximate but
    // DIFFERENT is a changed answer: every probe computes from base.
    val h0 = GraftMaterializedViews.hits("mv_dc")
    spark.sql("SELECT g1, g2, hll_sketch_estimate(hll_sketch_agg(u)) AS nd " +
      "FROM gmvs.ns.dc GROUP BY g1, g2").collect()
    spark.sql("SELECT g1, hll_sketch_estimate(hll_sketch_agg(u)) AS nd " +
      "FROM gmvs.ns.dc GROUP BY g1").collect()
    spark.sql("SELECT hll_sketch_estimate(hll_sketch_agg(u)) AS nd " +
      "FROM gmvs.ns.dc").collect()
    spark.sql("SELECT g1, count(DISTINCT u) AS n FROM gmvs.ns.dc GROUP BY g1")
      .collect()
    spark.sql("SELECT g1, hll_sketch_agg(u) AS s FROM gmvs.ns.dc GROUP BY g1")
      .collect()
    assert(GraftMaterializedViews.hits("mv_dc") == h0,
      "estimate/exact-distinct/raw-sketch shapes must ALL fail closed")
    // the view's EXACT partials still serve the rollup lattice
    val qc = spark.sql("SELECT g1, count(*) AS n FROM gmvs.ns.dc " +
      "GROUP BY g1 ORDER BY g1")
    assert(qc.as[(String, Long)].collect().toSeq ==
      Seq(("a", 3L), ("b", 2L)))
    assert(GraftMaterializedViews.hits("mv_dc") == h0 + 1,
      "count partials of a distinct view must still roll up")
    assert(qc.queryExecution.executedPlan.toString.contains("_mv_dc"))
    // the SKETCH TABLE is the serving surface: dashboards union the
    // stored partials at any grain (exact at these cardinalities —
    // sparse-mode sketches are coupon-exact)
    def fromMv(): Map[String, Long] = ManifestTable
      .read(spark, s"$wh/ns/_mv_dc").groupBy($"g1")
      .agg(hll_sketch_estimate(hll_union_agg($"hll_u")).as("nd"))
      .as[(String, Long)].collect().toMap
    assert(fromMv() == Map("a" -> 2L, "b" -> 1L))
    // insert-only refresh: the pure fold UNIONS the delta sketches in
    ManifestTable.commit(Seq((6L, "a", "x", 13L), (7L, "b", "y", 12L))
      .toDF("k", "g1", "g2", "u"), baseDir, append = true)
    GraftMaterializedViews.refreshIncremental(spark, "mv_dc")
    assert(fromMv() == Map("a" -> 3L, "b" -> 1L),
      "an insert-only fold must union the new values into the sketches")
    // the exact partials folded alongside: n_rows identity holds
    val nrows = ManifestTable.read(spark, s"$wh/ns/_mv_dc")
      .groupBy($"g1").agg(sum($"n_rows").as("n"))
      .as[(String, Long)].collect().toMap
    assert(nrows == Map("a" -> 4L, "b" -> 3L))
    // delete refresh: sketches don't subtract — the touched groups
    // re-sketch from the base, recovering the true remaining set
    ManifestTable.delete(Seq(2L).toDF("k"), baseDir, "k") // (a,x,11) gone
    GraftMaterializedViews.refreshIncremental(spark, "mv_dc")
    assert(fromMv() == Map("a" -> 2L, "b" -> 1L),
      "a delete must re-sketch the touched group — a pure union could " +
        "never subtract the removed value")
    // the refreshed view still serves its exact surface
    val h1 = GraftMaterializedViews.hits("mv_dc")
    spark.sql(defSql).collect()
    assert(GraftMaterializedViews.hits("mv_dc") == h1 + 1,
      "the exact defSql must serve after both refresh kinds")
    GraftMaterializedViews.drop("mv_dc")

    // the SQL verb drives the same lifecycle; list_mvs reports the shape
    spark.sql("CREATE TABLE gmvs.ns.dc2 (k BIGINT, grp STRING, u BIGINT)")
    spark.sql("INSERT INTO gmvs.ns.dc2 VALUES (1,'a',5),(2,'a',5),(3,'b',6)")
    val sqlDc = spark.sql("CALL gmvs.system.create_distinct_mv(" +
      "'sqldc', 'ns.dc2', 'grp', '', 'u')").head.getString(0)
    val hs = GraftMaterializedViews.hits("sqldc")
    assert(spark.sql(sqlDc).count() == 2)
    assert(GraftMaterializedViews.hits("sqldc") == hs + 1)
    assert(spark.sql("CALL gmvs.system.list_mvs()").collect()
      .find(_.getString(0) == "sqldc").get.getString(2) == "distinct-agg")
    spark.sql("CALL gmvs.system.drop_mv('sqldc')").collect()
  }

  test("CALL uniques: the distinct dashboard at any calendar grain from the sketch table (r16)") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.uq (k BIGINT, day DATE, etype STRING, uid BIGINT)")
    spark.sql("INSERT INTO gmvs.ns.uq VALUES " +
      "(1, DATE'2024-01-01', 'c', 1), (2, DATE'2024-01-01', 'c', 2), " +
      "(3, DATE'2024-01-02', 'c', 2), (4, DATE'2024-02-01', 'c', 1), " +
      "(5, DATE'2024-01-01', 'v', 9)")
    spark.sql("CALL gmvs.system.create_distinct_mv(" +
      "'uqmv', 'ns.uq', 'day,etype', '', 'uid')").collect()
    def uq(grain: String): Map[(String, String), Long] =
      spark.sql(s"CALL gmvs.system.uniques('uqmv', '$grain')").collect()
        .map(r => (Option(r.getString(0)).getOrElse("*"), r.getString(1))
          -> r.getLong(3)).toMap
    // tiny cardinalities: sparse sketches are coupon-exact, so the
    // estimates ARE the exact distinct counts here (the scale-accuracy
    // bands live in q426)
    assert(uq("DAY") == Map(("2024-01-01", "c") -> 2L,
      ("2024-01-02", "c") -> 1L, ("2024-02-01", "c") -> 1L,
      ("2024-01-01", "v") -> 1L))
    assert(uq("MM") == Map(("2024-01-01", "c") -> 2L,
      ("2024-02-01", "c") -> 1L, ("2024-01-01", "v") -> 1L),
      "the month grain must DEDUP across days (uid 2 active on two days)")
    assert(uq("GLOBAL") == Map(("*", "c") -> 2L, ("*", "v") -> 1L))
    // the fold keeps the dashboard honest: new month activity lands
    spark.sql("INSERT INTO gmvs.ns.uq VALUES (6, DATE'2024-02-02', 'c', 7)")
    spark.sql("CALL gmvs.system.refresh_mv_incremental('uqmv')").collect()
    assert(uq("MM")(("2024-02-01", "c")) == 2L,
      "the refreshed sketch table must serve the new month uniques")
    // refusals: unknown view; a view without sketch partials
    intercept[Exception] {
      spark.sql("CALL gmvs.system.uniques('nope', 'MM')").collect() }
    spark.sql("CREATE TABLE gmvs.ns.uq2 (k BIGINT, grp STRING, v BIGINT)")
    spark.sql("INSERT INTO gmvs.ns.uq2 VALUES (1,'a',1)")
    spark.sql("CALL gmvs.system.create_agg_mv('uqplain', 'ns.uq2', 'grp', 'v')")
      .collect()
    intercept[Exception] {
      spark.sql("CALL gmvs.system.uniques('uqplain', 'MM')").collect() }
    spark.sql("CALL gmvs.system.drop_mv('uqmv')").collect()
    spark.sql("CALL gmvs.system.drop_mv('uqplain')").collect()
  }

  test("restart → maintainer-refresh FIRST → exact AND rollup queries still serve (VERDICT r14 #1)") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.t10 (k BIGINT, g1 STRING, g2 STRING, v BIGINT)")
    spark.sql("INSERT INTO gmvs.ns.t10 VALUES " +
      "(1,'a','x',10),(2,'a','y',20),(3,'b','x',5)")
    val defSql = spark.sql(
      "CALL gmvs.system.create_agg_mv('rstmv', 'ns.t10', 'g1,g2', 'v')")
      .head.getString(0)
    // restart: in-memory registry wiped, sidecar reloaded — the view is
    // UNVERIFIED (fingerprint is a prior session's string; RollupInfo is
    // never serialized)
    GraftMaterializedViews.forgetInMemory()
    GraftMaterializedViews.loadFrom(s"$wh/_mv")
    // the FIRST touch is the always-on maintainer's fold (the exact
    // order q422 produces in production): a base commit, then
    // refreshIncremental BEFORE any query. The install must PRESERVE
    // the unverified state — stamping fpVerified=true here would trust
    // the stale fingerprint and permanently shed rollup containment.
    spark.sql("INSERT INTO gmvs.ns.t10 VALUES (4,'b','y',7)")
    GraftMaterializedViews.refreshIncremental(spark, "rstmv")
    val h0 = GraftMaterializedViews.hits("rstmv")
    val q = spark.sql(defSql + " ORDER BY g1, g2")
    assert(q.as[(String, String, Long, Long, Long)].collect().toSeq ==
      Seq(("a", "x", 1L, 10L, 1L), ("a", "y", 1L, 20L, 1L),
        ("b", "x", 1L, 5L, 1L), ("b", "y", 1L, 7L, 1L)))
    assert(GraftMaterializedViews.hits("rstmv") == h0 + 1,
      "the exact query must serve after restart → refresh-first")
    assert(q.queryExecution.executedPlan.toString.contains("_mv_rstmv"))
    // and the ROLLUP lattice must still be alive (re-derived lazily)
    val r = spark.sql("SELECT g1, count(*) AS n, sum(v) AS sv " +
      "FROM gmvs.ns.t10 GROUP BY g1 ORDER BY g1")
    assert(r.as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 30L), ("b", 2L, 12L)))
    assert(GraftMaterializedViews.hits("rstmv") == h0 + 2,
      "rollup containment must survive restart → maintainer-refresh → query")
    assert(r.queryExecution.executedPlan.toString.contains("_mv_rstmv"))
    spark.sql("CALL gmvs.system.drop_mv('rstmv')").collect()
  }

  test("snowflake MV survives restart: sidecar round-trip + maintainer-refresh-first (r15)") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.rsf (k BIGINT, pk BIGINT, v BIGINT)")
    spark.sql("CREATE TABLE gmvs.ns.rsd (pk BIGINT, grp STRING)")
    spark.sql("INSERT INTO gmvs.ns.rsf VALUES (1,0,10),(2,1,20)")
    spark.sql("INSERT INTO gmvs.ns.rsd VALUES (0,'a'),(1,'b')")
    val defSql = spark.sql("CALL gmvs.system.create_snowflake_mv(" +
      "'rsnow', 'ns.rsf,ns.rsd', 'pk', 'grp', 'v')").head.getString(0)
    // restart: the sidecar must round-trip the SNOWFLAKE shape (side
    // dirs IN ORDER, join keys, groups, sums) — the telescoping refresh
    // reads deps positionally against sideDirs, so a re-ordered or
    // lossy deserialization would fold deltas against the wrong sides
    GraftMaterializedViews.forgetInMemory()
    GraftMaterializedViews.loadFrom(s"$wh/_mv")
    // the FIRST touch is the maintainer's fold (deps advance, shape
    // consumed straight from the reloaded definition)
    spark.sql("INSERT INTO gmvs.ns.rsf VALUES (3,1,5)")
    ManifestTable.merge(Seq((0L, "c")).toDF("pk", "grp"),
      s"$wh/ns/rsd", "pk")
    GraftMaterializedViews.refreshIncremental(spark, "rsnow")
    val h0 = GraftMaterializedViews.hits("rsnow")
    val q = spark.sql(defSql + " ORDER BY grp")
    assert(q.as[(String, Long, Long)].collect().toSeq ==
      Seq(("b", 2L, 25L), ("c", 1L, 10L)),
      "the reloaded snowflake shape must fold fact AND dim deltas")
    assert(GraftMaterializedViews.hits("rsnow") == h0 + 1,
      "the reloaded snowflake view must serve after refresh-first")
    assert(spark.sql("CALL gmvs.system.list_mvs()").collect()
      .find(_.getString(0) == "rsnow").get.getString(2) == "snowflake-agg",
      "the deserialized shape must still report snowflake-agg")
    spark.sql("CALL gmvs.system.drop_mv('rsnow')").collect()
  }

  test("sidecar GC marks generations instead of deleting — a stale claim can NEVER re-win (VERDICT r14 #3)") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.t11 (k BIGINT, grp STRING, v BIGINT)")
    spark.sql("INSERT INTO gmvs.ns.t11 VALUES (1,'a',1)")
    spark.sql("CALL gmvs.system.create_agg_mv('gcmv', 'ns.t11', 'grp', 'v')")
      .collect()
    // q422 turns refreshes into per-commit cadence; each one persists a
    // generation — 8 commits+folds walk the claim past the gen-3 horizon
    (2 to 9).foreach { i =>
      spark.sql(s"INSERT INTO gmvs.ns.t11 VALUES ($i,'a',$i)")
      GraftMaterializedViews.refreshIncremental(spark, "gcmv")
    }
    val md = java.nio.file.Paths.get(s"$wh/_mv")
    val g1 = md.resolve("gcmv.g1")
    assert(java.nio.file.Files.exists(g1),
      "GC'd generations must survive as marker files, never be deleted")
    assert(java.nio.file.Files.readAllLines(g1).get(0).startsWith("#gc"))
    // the lost-update window: a writer stalled 5+ mutations re-claiming
    // a reclaimed number must get EEXIST, not a silent win
    val tmp = md.resolve(".stale.tmp")
    java.nio.file.Files.write(tmp, java.util.List.of("defSql=stale"))
    intercept[java.nio.file.FileAlreadyExistsException] {
      java.nio.file.Files.createLink(g1, tmp)
    }
    java.nio.file.Files.delete(tmp)
    // no rename temps may linger, and the head still reloads clean
    import scala.jdk.CollectionConverters._
    val leftovers = java.nio.file.Files.list(md).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith(".gc.")).toSeq
    assert(leftovers.isEmpty, s"GC rename temps must not linger: $leftovers")
    GraftMaterializedViews.forgetInMemory()
    GraftMaterializedViews.loadFrom(s"$wh/_mv")
    val listed = spark.sql("CALL gmvs.system.list_mvs()").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(listed.get("gcmv").contains(true),
      s"the head generation must reload fresh through the marker prefix: $listed")
    spark.sql("CALL gmvs.system.drop_mv('gcmv')").collect()
  }

  test("a multi-version catch-up delta folds unhinted (no unconditional broadcast) ≡ recompute") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.t12 (k BIGINT, grp STRING, v BIGINT)")
    (0L until 2000L).map(k => (k, s"g${k % 7}", k))
      .toDF("k", "grp", "v").createOrReplaceTempView("mv_big_src")
    spark.sql("INSERT INTO gmvs.ns.t12 SELECT * FROM mv_big_src")
    val baseDir = s"$wh/ns/t12"
    val defSql = GraftMaterializedViews.registerAgg(spark, "mv_t12",
      "gmvs.ns.t12", baseDir, Seq("grp"), Seq("v"), s"$wh/ns/_mv_t12")
    // a backfill-scale window: three versions land before ONE refresh
    // (the maxVersionsPerTrigger catch-up shape feeding q422's
    // maintainer) — the fold must not pin a driver-sized broadcast on it
    ManifestTable.commit((2000L until 6000L).map(k => (k, s"g${k % 7}", k))
      .toDF("k", "grp", "v"), baseDir, append = true): Unit
    ManifestTable.delete((0L until 500L).toDF("k"), baseDir, "k")
    ManifestTable.merge((500L until 900L).map(k => (k, s"g${k % 5}", k * 2))
      .toDF("k", "grp", "v"), baseDir, "k"): Unit
    GraftMaterializedViews.refreshIncremental(spark, "mv_t12")
    val served = spark.sql(defSql)
    val expect = ManifestTable.read(spark, baseDir).groupBy($"grp")
      .agg(count(lit(1)).as("n_rows"), sum($"v").as("sum_v"),
        count($"v").as("cnt_v"))
    assert(served.exceptAll(expect).isEmpty && expect.exceptAll(served).isEmpty,
      "the catch-up fold must equal the from-base recompute")
    GraftMaterializedViews.drop("mv_t12")

    // join view: both sides take multi-version deltas before one refresh
    spark.sql("CREATE TABLE gmvs.ns.t13f (k BIGINT, jk BIGINT, v BIGINT)")
    spark.sql("CREATE TABLE gmvs.ns.t13d (jk BIGINT, grp STRING)")
    ManifestTable.commit((0L until 3000L).map(k => (k, k % 40, k))
      .toDF("k", "jk", "v"), s"$wh/ns/t13f", append = true): Unit
    ManifestTable.commit((0L until 40L).map(j => (j, s"g${j % 6}"))
      .toDF("jk", "grp"), s"$wh/ns/t13d", append = true): Unit
    val jSql = GraftMaterializedViews.registerJoinAgg(spark, "mv_t13",
      "gmvs.ns.t13f", s"$wh/ns/t13f", "gmvs.ns.t13d", s"$wh/ns/t13d", "jk",
      Seq("grp"), Seq("v"), s"$wh/ns/_mv_t13")
    ManifestTable.commit((3000L until 5000L).map(k => (k, k % 40, k))
      .toDF("k", "jk", "v"), s"$wh/ns/t13f", append = true): Unit
    ManifestTable.delete((0L until 800L).toDF("k"), s"$wh/ns/t13f", "k")
    ManifestTable.merge((0L until 10L).map(j => (j, s"h${j % 3}"))
      .toDF("jk", "grp"), s"$wh/ns/t13d", "jk"): Unit
    GraftMaterializedViews.refreshIncremental(spark, "mv_t13")
    val jServed = spark.sql(jSql)
    val jExpect = ManifestTable.read(spark, s"$wh/ns/t13f")
      .join(ManifestTable.read(spark, s"$wh/ns/t13d"), Seq("jk"))
      .groupBy($"grp")
      .agg(count(lit(1)).as("n_rows"), sum($"v").as("sum_v"))
    assert(jServed.exceptAll(jExpect).isEmpty &&
      jExpect.exceptAll(jServed).isEmpty,
      "the multi-version join fold must equal the from-base join")
    GraftMaterializedViews.drop("mv_t13")
  }

  test("WAP staging never flips MV freshness; fast_forward publishes and fails it closed") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.t14 (k BIGINT, grp STRING, v BIGINT)")
    spark.sql("INSERT INTO gmvs.ns.t14 VALUES (1,'a',10),(2,'b',20)")
    val baseDir = s"$wh/ns/t14"
    val defSql = GraftMaterializedViews.registerAgg(spark, "mv_t14",
      "gmvs.ns.t14", baseDir, Seq("grp"), Seq("v"), s"$wh/ns/_mv_t14")
    val h0 = GraftMaterializedViews.hits("mv_t14")
    ManifestTable.createBranch(baseDir, "audit")
    spark.conf.set("spark.graft.wap.branch", "audit")
    try {
      // stage: main's version does NOT move, reads serve main — the MV
      // must stay FRESH and keep serving (it equals the main answer)
      spark.sql("INSERT INTO gmvs.ns.t14 VALUES (3,'a',5)")
      val q = spark.sql(defSql + " ORDER BY grp")
      assert(q.as[(String, Long, Long, Long)].collect().toSeq ==
        Seq(("a", 1L, 10L, 1L), ("b", 1L, 20L, 1L)),
        "staged rows must not leak into the main-serving MV answer")
      assert(GraftMaterializedViews.hits("mv_t14") == h0 + 1,
        "WAP staging must not flip the MV stale (main is unchanged)")
    } finally spark.conf.unset("spark.graft.wap.branch")
    // publish: main advances → the MV is stale → fail closed
    ManifestTable.fastForward(baseDir, "audit"): Unit
    val q2 = spark.sql(defSql + " ORDER BY grp")
    assert(q2.as[(String, Long, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 15L, 2L), ("b", 1L, 20L, 1L)),
      "after publish the base answer must win")
    assert(GraftMaterializedViews.hits("mv_t14") == h0 + 1,
      "a stale MV must never serve after fast_forward")
    GraftMaterializedViews.refreshIncremental(spark, "mv_t14")
    assert(spark.sql(defSql).count() == 2)
    assert(GraftMaterializedViews.hits("mv_t14") == h0 + 2,
      "refresh must fold the published lineage and re-arm")
    GraftMaterializedViews.drop("mv_t14")
  }

  test("cross-warehouse name collision: BOTH views serve — the later load arms under its qualified key (r16)") {
    wh: Unit
    // two warehouses each persist a view named 'dupmv'
    val wh2 = java.nio.file.Files.createTempDirectory("graft_mv_wh2").toString
    spark.conf.set("spark.sql.catalog.gmvs2", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmvs2.warehouse", wh2)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmvs2.ns")
    spark.sql("CREATE TABLE gmvs.ns.d1 (k BIGINT, grp STRING, v BIGINT)")
    spark.sql("INSERT INTO gmvs.ns.d1 VALUES (1,'a',10)")
    spark.sql("CREATE TABLE gmvs2.ns.d2 (k BIGINT, grp STRING, v BIGINT)")
    spark.sql("INSERT INTO gmvs2.ns.d2 VALUES (1,'z',99)")
    val sql1 = spark.sql(
      "CALL gmvs.system.create_agg_mv('dupmv', 'ns.d1', 'grp', 'v')")
      .head.getString(0)
    val sql2 = spark.sql(
      "CALL gmvs2.system.create_agg_mv('dupmv', 'ns.d2', 'grp', 'v')")
      .head.getString(0)
    // restart: loadFrom order decides who owns the bare name; the later
    // load arms under its QUALIFIED `<dir>::<name>` key — BOTH serve
    // (fingerprints keep the rewrites apart), and the collision is
    // warned so operators can rename
    GraftMaterializedViews.forgetInMemory()
    GraftMaterializedViews.loadFrom(s"$wh/_mv")
    GraftMaterializedViews.loadFrom(s"$wh2/_mv")
    val qk = s"$wh2/_mv::dupmv"
    val h0 = GraftMaterializedViews.hits("dupmv")
    val hq = GraftMaterializedViews.hits(qk)
    assert(spark.sql(sql1).as[(String, Long, Long, Long)].collect().toSeq ==
      Seq(("a", 1L, 10L, 1L)))
    assert(GraftMaterializedViews.hits("dupmv") == h0 + 1,
      "the first-loaded registration must serve under the bare name")
    assert(spark.sql(sql2).as[(String, Long, Long, Long)].collect().toSeq ==
      Seq(("z", 1L, 99L, 1L)),
      "the second warehouse's query must answer correctly")
    assert(GraftMaterializedViews.hits(qk) == hq + 1,
      "the second warehouse's view must ALSO serve, under its qualified key")
    assert(GraftMaterializedViews.hits("dupmv") == h0 + 1,
      "the collided views must never cross-serve")
    // the qualified key drives the name-keyed verbs too
    spark.sql("INSERT INTO gmvs2.ns.d2 VALUES (2,'z',1)")
    GraftMaterializedViews.refreshIncremental(spark, qk)
    assert(spark.sql(sql2).as[(String, Long, Long, Long)].collect().toSeq ==
      Seq(("z", 2L, 100L, 2L)))
    assert(GraftMaterializedViews.hits(qk) == hq + 2)
    GraftMaterializedViews.drop("dupmv")
    GraftMaterializedViews.drop(qk)
  }

  test("rewrite cost pre-filter: unrelated queries are never fingerprinted") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.t8 (grp STRING, v BIGINT)")
    spark.sql("INSERT INTO gmvs.ns.t8 VALUES ('a', 1)")
    val defSql = "SELECT grp, count(*) AS n, sum(v) AS total " +
      "FROM gmvs.ns.t8 GROUP BY grp"
    GraftMaterializedViews.register(spark, "mv_t8", defSql,
      s"$wh/ns/_mv_t8", deps = Seq(s"$wh/ns/t8"))
    val c0 = GraftMaterializedViews.fingerprintCalls.get()
    // a query sharing neither output width (3) nor an Aggregate root
    // with the armed view: the (width, root) pre-filter must reject every
    // subtree before any O(subtree) serialization happens
    spark.sql("SELECT grp, v, v * 2 AS d, 'x' AS tag, grp AS g2 " +
      "FROM gmvs.ns.t8 WHERE v > 0").collect()
    assert(GraftMaterializedViews.fingerprintCalls.get() == c0,
      "no subtree of an unrelated query may be fingerprinted")
    // an unrelated AGGREGATE with a rollup-capable view armed: the name
    // pre-filter must reject BEFORE the child-subtree serialization —
    // the rollup path honors the same cost discipline as exact-match
    // (VERDICT r14 what's-wrong #2)
    spark.sql("CREATE TABLE gmvs.ns.t8b (x STRING, w BIGINT)")
    spark.sql("INSERT INTO gmvs.ns.t8b VALUES ('p', 4)")
    val ca = GraftMaterializedViews.fingerprintCalls.get()
    spark.sql("SELECT x, sum(w) AS sw FROM gmvs.ns.t8b GROUP BY x").collect()
    assert(GraftMaterializedViews.fingerprintCalls.get() == ca,
      "an unrelated aggregate must not be fingerprinted on the rollup path")
    // the real match still costs exactly one fingerprint per candidate
    val c1 = GraftMaterializedViews.fingerprintCalls.get()
    spark.sql(defSql).collect()
    assert(GraftMaterializedViews.fingerprintCalls.get() <= c1 + 2,
      "an exact match should fingerprint only width/root candidates")
    GraftMaterializedViews.drop("mv_t8")
  }

  test("DISTINCT aggregates and FILTER clauses over view keys serve from the MV (r16)") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.dk (k BIGINT, g1 STRING, g2 BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gmvs.ns.dk VALUES " +
      "(1,'a',1,10),(2,'a',2,20),(3,'a',2,30),(4,'b',5,40),(5,'b',6,NULL)")
    GraftMaterializedViews.registerAgg(spark, "mv_dk", "gmvs.ns.dk",
      s"$wh/ns/dk", Seq("g1", "g2"), Seq("v"), s"$wh/ns/_mv_dk",
      minCols = Seq("v"))
    val h0 = GraftMaterializedViews.hits("mv_dk")
    def hitsNow: Long = GraftMaterializedViews.hits("mv_dk")
    // DISTINCT over a key: the MV holds EXACTLY one row per distinct
    // (g1, g2) combination, so the distinct input set of g2 per g1 is
    // identical over MV rows and base rows — the UNCHANGED aggregate
    // over the MV is the exact answer
    val qd = spark.sql("SELECT g1, count(DISTINCT g2) AS n FROM gmvs.ns.dk " +
      "GROUP BY g1 ORDER BY g1")
    assert(qd.as[(String, Long)].collect().toSeq == Seq(("a", 2L), ("b", 2L)))
    assert(hitsNow == h0 + 1, "count(DISTINCT key) must serve from the MV")
    assert(qd.queryExecution.executedPlan.toString.contains("_mv_dk"),
      "the distinct-over-key plan must scan the MV")
    // sum/avg(DISTINCT key) — same distinct set, same operator, exact
    // (no integral-only restriction: nothing is re-derived from partials)
    assert(spark.sql("SELECT sum(DISTINCT g2) AS s FROM gmvs.ns.dk")
      .as[Long].head() == 14L)
    assert(hitsNow == h0 + 2)
    val qa = spark.sql("SELECT g1, avg(DISTINCT g2) AS a FROM gmvs.ns.dk " +
      "GROUP BY g1 ORDER BY g1")
    assert(qa.as[(String, Double)].collect().toSeq ==
      Seq(("a", 1.5), ("b", 5.5)))
    assert(hitsNow == h0 + 3)
    // DISTINCT over an EXPRESSION of keys
    val qe = spark.sql("SELECT g1, count(DISTINCT g2 % 2) AS n " +
      "FROM gmvs.ns.dk GROUP BY g1 ORDER BY g1")
    assert(qe.as[(String, Long)].collect().toSeq == Seq(("a", 2L), ("b", 2L)))
    assert(hitsNow == h0 + 4)
    // FILTER over keys guards the partials: constant per MV group, so
    // `sum(when(p, partial))` folds exactly the groups the base kept
    val qf = spark.sql("SELECT g1, sum(v) FILTER (WHERE g2 >= 2) AS s, " +
      "count(*) FILTER (WHERE g2 = 2) AS n FROM gmvs.ns.dk " +
      "GROUP BY g1 ORDER BY g1")
    assert(qf.as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 50L, 2L), ("b", 40L, 0L)))
    assert(hitsNow == h0 + 5, "FILTER over keys must serve from the MV")
    assert(qf.queryExecution.executedPlan.toString.contains("_mv_dk"))
    // filtered integral avg: both divisor and dividend guard identically
    // (b keeps row (5,40) and the all-NULL (6,NULL) row — avg ignores it)
    val qav = spark.sql("SELECT g1, avg(v) FILTER (WHERE g2 >= 2) AS a " +
      "FROM gmvs.ns.dk GROUP BY g1 ORDER BY g1")
    assert(qav.as[(String, Double)].collect().toSeq ==
      Seq(("a", 25.0), ("b", 40.0)))
    assert(hitsNow == h0 + 6)
    // min with FILTER rides the stored min partial behind the guard
    val qmn = spark.sql("SELECT g1, min(v) FILTER (WHERE g2 >= 2) AS m " +
      "FROM gmvs.ns.dk GROUP BY g1 ORDER BY g1")
    assert(qmn.as[(String, Long)].collect().toSeq ==
      Seq(("a", 20L), ("b", 40L)))
    assert(hitsNow == h0 + 7)
    // DISTINCT and FILTER compose when both stay on keys
    val qdf = spark.sql("SELECT g1, count(DISTINCT g2) " +
      "FILTER (WHERE g2 >= 2) AS n FROM gmvs.ns.dk GROUP BY g1 ORDER BY g1")
    assert(qdf.as[(String, Long)].collect().toSeq ==
      Seq(("a", 1L), ("b", 2L)))
    assert(hitsNow == h0 + 8)
    // a non-aggregate output that is a deterministic FUNCTION of the
    // grouping expressions (not itself one) re-computes from the rolled
    // group columns
    val qdr = spark.sql("SELECT concat(g1, '_z') AS lbl, sum(v) AS s " +
      "FROM gmvs.ns.dk GROUP BY g1 ORDER BY lbl")
    assert(qdr.as[(String, Long)].collect().toSeq ==
      Seq(("a_z", 60L), ("b_z", 40L)))
    assert(hitsNow == h0 + 9,
      "a derived function of grouping exprs must not block the rollup")
    // fail-closed: DISTINCT over a NON-key (multiplicity folded away),
    // FILTER over a NON-key, and an order-sensitive DISTINCT collector
    // (the MV does not preserve row order)
    spark.sql("SELECT g1, count(DISTINCT v) AS n FROM gmvs.ns.dk " +
      "GROUP BY g1").collect()
    spark.sql("SELECT g1, sum(v) FILTER (WHERE v > 15) AS s " +
      "FROM gmvs.ns.dk GROUP BY g1").collect()
    spark.sql("SELECT g1, collect_list(DISTINCT g2) AS l FROM gmvs.ns.dk " +
      "GROUP BY g1").collect()
    assert(hitsNow == h0 + 9,
      "non-key DISTINCT/FILTER and order-sensitive collectors must " +
        "fail closed to the base")
    // staleness gates these paths exactly like every other rewrite
    spark.sql("INSERT INTO gmvs.ns.dk VALUES (6,'a',9,1)")
    val qs = spark.sql("SELECT g1, count(DISTINCT g2) AS n FROM gmvs.ns.dk " +
      "GROUP BY g1 ORDER BY g1")
    assert(qs.as[(String, Long)].collect().toSeq == Seq(("a", 3L), ("b", 2L)))
    assert(hitsNow == h0 + 9, "a stale view must not serve DISTINCT")
    GraftMaterializedViews.drop("mv_dk")
  }

  test("JOIN-BACK: an aggregate over base JOIN dim serves from MV JOIN dim (r16)") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.jbf (k BIGINT, ck BIGINT, v BIGINT)")
    spark.sql("CREATE TABLE gmvs.ns.jbd (ck BIGINT, region STRING)")
    spark.sql("INSERT INTO gmvs.ns.jbf VALUES " +
      "(1,1,10),(2,1,20),(3,2,30),(4,3,40),(5,4,99)")
    spark.sql("INSERT INTO gmvs.ns.jbd VALUES (1,'e'),(2,'e'),(3,'w')")
    // the view is over the FACT ALONE — the dim arrives at query time
    GraftMaterializedViews.registerAgg(spark, "mv_jb", "gmvs.ns.jbf",
      s"$wh/ns/jbf", Seq("ck"), Seq("v"), s"$wh/ns/_mv_jb")
    val h0 = GraftMaterializedViews.hits("mv_jb")
    def hitsNow: Long = GraftMaterializedViews.hits("mv_jb")
    // the star dashboard: group by a DIM attribute. ck=4 has no dim row
    // (inner join drops it on both sides); e covers ck 1+2, w covers 3
    val q1 = spark.sql("SELECT region, count(*) AS n, sum(v) AS s " +
      "FROM gmvs.ns.jbf JOIN gmvs.ns.jbd USING (ck) " +
      "GROUP BY region ORDER BY region")
    assert(q1.as[(String, Long, Long)].collect().toSeq ==
      Seq(("e", 3L, 60L), ("w", 1L, 40L)))
    assert(hitsNow == h0 + 1,
      "the dim-grouped star aggregate must serve from MV JOIN dim")
    val p1 = q1.queryExecution.executedPlan.toString
    assert(p1.contains("_mv_jb"), "the plan must scan the MV")
    assert(!p1.contains("jbf/"), "the fact table must NOT be scanned")
    // explicit ON condition, avg folded from the partials
    val q2 = spark.sql("SELECT d.region, avg(f.v) AS a " +
      "FROM gmvs.ns.jbf f JOIN gmvs.ns.jbd d ON f.ck = d.ck " +
      "GROUP BY d.region ORDER BY d.region")
    assert(q2.as[(String, Double)].collect().toSeq ==
      Seq(("e", 20.0), ("w", 40.0)))
    assert(hitsNow == h0 + 2)
    // min/max of a DIM column: replication never changes a min/max
    val q3 = spark.sql("SELECT ck, max(region) AS mr FROM gmvs.ns.jbf " +
      "JOIN gmvs.ns.jbd USING (ck) GROUP BY ck ORDER BY ck")
    assert(q3.as[(Long, String)].collect().toSeq ==
      Seq((1L, "e"), (2L, "e"), (3L, "w")))
    assert(hitsNow == h0 + 3)
    // DISTINCT over a dim column: the (key, dim-row) pair set is
    // identical between base-join and MV-join
    assert(spark.sql("SELECT count(DISTINCT region) AS n FROM gmvs.ns.jbf " +
      "JOIN gmvs.ns.jbd USING (ck)").as[Long].head() == 2L)
    assert(hitsNow == h0 + 4)
    // a WHERE above the join transfers (keys and dim columns both allowed)
    val q4 = spark.sql("SELECT region, sum(v) AS s FROM gmvs.ns.jbf " +
      "JOIN gmvs.ns.jbd USING (ck) WHERE region <> 'w' AND ck < 9 " +
      "GROUP BY region")
    assert(q4.as[(String, Long)].collect().toSeq == Seq(("e", 60L)))
    assert(hitsNow == h0 + 5)
    // fail-closed: sum over a DIM column weighs dim values by fact
    // multiplicity, which the MV folded away; LEFT joins change the
    // unmatched-row story; a join keyed on a NON-key fact column
    // cannot remap
    spark.sql("SELECT region, sum(ck) AS s FROM gmvs.ns.jbf " +
      "JOIN gmvs.ns.jbd USING (ck) GROUP BY region").collect()
    spark.sql("SELECT region, sum(v) AS s FROM gmvs.ns.jbf " +
      "LEFT JOIN gmvs.ns.jbd USING (ck) GROUP BY region").collect()
    spark.sql("SELECT region, count(*) AS n FROM gmvs.ns.jbf f " +
      "JOIN gmvs.ns.jbd d ON f.v = d.ck GROUP BY region").collect()
    assert(hitsNow == h0 + 5,
      "dim-weighted sums, outer joins and non-key join conditions must " +
        "fail closed to the base")
    // MULTI-DIM join-back: the snowflake chain fact ⋈ d1 ⋈ d2, where
    // d2 joins on a column INTRODUCED BY d1 (a dim-to-dim condition) —
    // the flattened tree rebuilds greedily from the MV outward
    spark.sql("CREATE TABLE gmvs.ns.jbz (region STRING, zone STRING)")
    spark.sql("INSERT INTO gmvs.ns.jbz VALUES ('e','east'),('w','west')")
    val qz = spark.sql("SELECT zone, count(*) AS n, sum(v) AS s, " +
      "max(region) AS mr FROM gmvs.ns.jbf JOIN gmvs.ns.jbd USING (ck) " +
      "JOIN gmvs.ns.jbz USING (region) GROUP BY zone ORDER BY zone")
    assert(qz.as[(String, Long, Long, String)].collect().toSeq ==
      Seq(("east", 3L, 60L, "e"), ("west", 1L, 40L, "w")))
    assert(hitsNow == h0 + 6,
      "the two-dim snowflake chain must serve from MV JOIN d1 JOIN d2")
    val pz = qz.queryExecution.executedPlan.toString
    assert(pz.contains("_mv_jb") && !pz.contains("jbf/"),
      "the snowflake join-back plan must scan the MV, never the fact")
    // staleness of the FACT gates the join-back like every rewrite
    spark.sql("INSERT INTO gmvs.ns.jbf VALUES (6,1,5)")
    val q5 = spark.sql("SELECT region, sum(v) AS s FROM gmvs.ns.jbf " +
      "JOIN gmvs.ns.jbd USING (ck) GROUP BY region ORDER BY region")
    assert(q5.as[(String, Long)].collect().toSeq ==
      Seq(("e", 65L), ("w", 40L)))
    assert(hitsNow == h0 + 6, "a stale fact must fail the join-back closed")
    GraftMaterializedViews.refreshIncremental(spark, "mv_jb")
    val q6 = spark.sql("SELECT region, sum(v) AS s FROM gmvs.ns.jbf " +
      "JOIN gmvs.ns.jbd USING (ck) GROUP BY region ORDER BY region")
    assert(q6.as[(String, Long)].collect().toSeq ==
      Seq(("e", 65L), ("w", 40L)))
    assert(hitsNow == h0 + 7, "refresh must re-arm the join-back")
    GraftMaterializedViews.drop("mv_jb")
  }

  test("GROUPING SETS / ROLLUP / CUBE serve from the MV via the replayed Expand (r16)") {
    wh: Unit
    spark.sql("CREATE TABLE gmvs.ns.gs (k BIGINT, g1 STRING, g2 STRING, v BIGINT)")
    spark.sql("INSERT INTO gmvs.ns.gs VALUES " +
      "(1,'a','x',10),(2,'a','y',20),(3,'b','x',5)")
    GraftMaterializedViews.registerAgg(spark, "mv_gs", "gmvs.ns.gs",
      s"$wh/ns/gs", Seq("g1", "g2"), Seq("v"), s"$wh/ns/_mv_gs",
      minCols = Seq("v"))
    val h0 = GraftMaterializedViews.hits("mv_gs")
    def hitsNow: Long = GraftMaterializedViews.hits("mv_gs")
    // the BI cube: the Expand replays over the MV — each group's
    // partials replicate once per grouping set and re-fold per cell
    val qr = spark.sql("SELECT g1, g2, count(*) AS n, sum(v) AS s " +
      "FROM gmvs.ns.gs GROUP BY ROLLUP(g1, g2)")
    assert(qr.as[(Option[String], Option[String], Long, Long)].collect()
      .toSet == Set(
        (Some("a"), Some("x"), 1L, 10L), (Some("a"), Some("y"), 1L, 20L),
        (Some("b"), Some("x"), 1L, 5L), (Some("a"), None, 2L, 30L),
        (Some("b"), None, 1L, 5L), (None, None, 3L, 35L)))
    assert(hitsNow == h0 + 1, "GROUP BY ROLLUP must serve from the MV")
    assert(qr.queryExecution.executedPlan.toString.contains("_mv_gs"),
      "the rollup-cube plan must scan the MV, not the base")
    // CUBE adds the g2-only sets; min folds its partial per cell
    val qc = spark.sql("SELECT g1, g2, min(v) AS m " +
      "FROM gmvs.ns.gs GROUP BY CUBE(g1, g2)")
    assert(qc.as[(Option[String], Option[String], Long)].collect().toSet ==
      Set((Some("a"), Some("x"), 10L), (Some("a"), Some("y"), 20L),
        (Some("b"), Some("x"), 5L), (Some("a"), None, 10L),
        (Some("b"), None, 5L), (None, Some("x"), 5L),
        (None, Some("y"), 20L), (None, None, 5L)))
    assert(hitsNow == h0 + 2, "GROUP BY CUBE must serve from the MV")
    // explicit GROUPING SETS with a DISTINCT-over-key aggregate (args
    // bind to the base child, so the distinct set per cell is exact)
    val qg = spark.sql("SELECT g1, count(DISTINCT g2) AS nd " +
      "FROM gmvs.ns.gs GROUP BY GROUPING SETS ((g1), ())")
    assert(qg.as[(Option[String], Long)].collect().toSet ==
      Set((Some("a"), 2L), (Some("b"), 1L), (None, 2L)))
    assert(hitsNow == h0 + 3, "GROUPING SETS must serve from the MV")
    // fail-closed: grouping_id() projects the gid (a non-aggregate
    // output that is not a grouping attr), and an unstored sum
    spark.sql("SELECT g1, grouping(g1) AS gi, count(*) AS n " +
      "FROM gmvs.ns.gs GROUP BY ROLLUP(g1)").collect()
    spark.sql("SELECT g1, g2, sum(k) AS s FROM gmvs.ns.gs " +
      "GROUP BY ROLLUP(g1, g2)").collect()
    assert(hitsNow == h0 + 3,
      "grouping() projections and unstored sums must fail closed")
    // staleness gates the expand path like every rewrite
    spark.sql("INSERT INTO gmvs.ns.gs VALUES (4,'b','y',100)")
    val q2 = spark.sql("SELECT g1, sum(v) AS s FROM gmvs.ns.gs " +
      "GROUP BY ROLLUP(g1)")
    assert(q2.as[(Option[String], Long)].collect().toSet ==
      Set((Some("a"), 30L), (Some("b"), 105L), (None, 135L)))
    assert(hitsNow == h0 + 3, "a stale view must not serve the cube")
    GraftMaterializedViews.refreshIncremental(spark, "mv_gs")
    val q3 = spark.sql("SELECT g1, sum(v) AS s FROM gmvs.ns.gs " +
      "GROUP BY ROLLUP(g1)")
    assert(q3.as[(Option[String], Long)].collect().toSet ==
      Set((Some("a"), 30L), (Some("b"), 105L), (None, 135L)))
    assert(hitsNow == h0 + 4, "refresh must re-arm the cube path")
    GraftMaterializedViews.drop("mv_gs")
  }
}
