package graft

import graft.sources.ManifestTable
import graft.sources.v2.MoRDeleteKeyLoader

/** Merge-on-read delete state is memoized per delete file (path, length,
  * mtime): re-planning a keyed catalog table on an unchanged snapshot
  * reads no delete file and starts no Spark job, a new delete commit
  * reads only its own files, and a file re-created at the same path with
  * other bytes is read again, never served stale. */
class MoRDeleteMemoSpec extends SparkSpec {
  import spark.implicits._
  import JobCount.jobsOf

  private lazy val wh: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_mdm_wh").toString
    spark.conf.set("spark.sql.catalog.gmdm", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmdm.warehouse", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmdm.ns")
    d
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
    df.select($"k", $"grp", $"v").as[(Long, String, Long)].collect().toSet

  test("re-planning an unchanged snapshot reads no delete file and runs no delete-key job") {
    wh: Unit
    val t = "gmdm.ns.t"
    val dir = s"$wh/ns/t"
    spark.sql(s"CREATE TABLE $t (k BIGINT, grp STRING, v BIGINT) " +
      "TBLPROPERTIES ('write.key'='k')")
    (1L to 400L).map(i => (i, s"g${i % 7}", i * 3)).toDF("k", "grp", "v")
      .createOrReplaceTempView("mdm_seed")
    ((350L to 450L).map(i => (i, "m", i * 5))).toDF("k", "grp", "v")
      .createOrReplaceTempView("mdm_merge")
    val steps = Seq(
      s"INSERT INTO $t SELECT * FROM mdm_seed",
      s"""MERGE INTO $t t USING mdm_merge s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin,
      s"DELETE FROM $t WHERE k >= 100 AND k < 140",
      s"DELETE FROM $t WHERE k >= 380 AND k < 400")
    // every step (and every version it leaves) equals the library read
    val versions = steps.map { sql =>
      spark.sql(sql)
      val v = ManifestTable.currentVersion(dir)
      assert(rows(spark.sql(s"SELECT * FROM $t")) == rows(ManifestTable.read(spark, dir)), sql)
      v
    }
    versions.foreach { v =>
      assert(rows(spark.sql(s"SELECT * FROM $t VERSION AS OF $v")) ==
        rows(ManifestTable.read(spark, dir, v)), s"VERSION AS OF $v")
    }
    val expected = rows(ManifestTable.read(spark, dir))
    assert(expected.size == 450 - 40 - 20)

    // a re-read of the unchanged snapshot: no delete file read, and
    // planning (where the scan and its delete state are built) starts no
    // Spark job
    val q = s"SELECT k, grp, v FROM $t WHERE k < 420"
    val l0 = MoRDeleteKeyLoader.fileLoads.get()
    assert(jobsOf(spark.sql(q).queryExecution.executedPlan: Unit) == 0)
    assert(rows(spark.sql(q)) == expected.filter(_._1 < 420))
    assert(MoRDeleteKeyLoader.fileLoads.get() == l0,
      "re-planning an unchanged snapshot must read no delete file")

    // one more DELETE: the next read loads exactly the new delete files
    val before = ManifestTable.sqlEntriesAt(dir, ManifestTable.currentVersion(dir))
    spark.sql(s"DELETE FROM $t WHERE k >= 200 AND k < 210")
    val after = ManifestTable.sqlEntriesAt(dir, ManifestTable.currentVersion(dir))
    val newDeletes = after.filter(_.deleteKey.isDefined).map(_.path)
      .diff(before.filter(_.deleteKey.isDefined).map(_.path))
    assert(newDeletes.nonEmpty)
    val l1 = MoRDeleteKeyLoader.fileLoads.get()
    assert(jobsOf(spark.sql(q).queryExecution.executedPlan: Unit) == 0)
    val expected2 = expected.filterNot(r => r._1 >= 200 && r._1 < 210)
    assert(rows(spark.sql(q)) == expected2.filter(_._1 < 420))
    assert(MoRDeleteKeyLoader.fileLoads.get() - l1 == newDeletes.size,
      "a new delete commit must load its own files once and nothing else")
    assert(rows(spark.sql(s"SELECT * FROM $t")) == rows(ManifestTable.read(spark, dir)))

    // the over-ceiling path still applies and serves the same rows
    val sets0 = MoRDeleteKeyLoader.loads.get()
    sys.props("graft.mor.maxDeleteKeys") = "8"
    try assert(rows(spark.sql(s"SELECT * FROM $t")) == expected2)
    finally sys.props.remove("graft.mor.maxDeleteKeys"): Unit
    assert(MoRDeleteKeyLoader.loads.get() > sets0,
      "over the ceiling, executors must assemble the key sets")

    // a delete file re-created at the same path with other bytes is read
    // again: widen the newest delete file by ten more keys
    val target = newDeletes.head
    val old = ManifestTable.FileId.of(target)
    val oldKeys = spark.read.parquet(target).as[Long].collect().toSet
    val extra = (300L until 310L).toSet
    val tmp = java.nio.file.Files.createTempDirectory("graft_mdm_rewrite").toString
    (oldKeys ++ extra).toSeq.sorted.toDF("k").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/out")
    val part = new java.io.File(s"$tmp/out").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(target),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    assert(ManifestTable.FileId.of(target) != old, "the rewrite must change the file's identity")
    val expected3 = expected2.filterNot(r => extra.contains(r._1))
    assert(rows(spark.sql(s"SELECT * FROM $t")) == expected3,
      "a replaced delete file must be reloaded, never served stale")
    sys.props("graft.mor.maxDeleteKeys") = "8"
    try assert(rows(spark.sql(s"SELECT * FROM $t")) == expected3,
      "the executor-side sets must key on the file identity too")
    finally sys.props.remove("graft.mor.maxDeleteKeys"): Unit
  }

  test("over the ceiling, a many-partition scan assembles its key set once, however large") {
    wh: Unit
    spark.sql("CREATE TABLE gmdm.ns.big (k BIGINT, v BIGINT)")
    val dir = s"$wh/ns/big"
    ManifestTable.commit((1L to 4000L).map(i => (i, i * 7)).toDF("k", "v").repartition(8),
      dir, append = true): Unit
    ManifestTable.delete((1L to 2000L).filter(_ % 3 == 0).toDF("k"), dir, "k")
    ManifestTable.delete((2001L to 4000L).filter(_ % 3 == 0).toDF("k"), dir, "k")
    val expected = ManifestTable.read(spark, dir)
      .select($"k", $"v").as[(Long, Long)].collect().toSet
    assert(expected.size == 4000 - 1333)
    def read() = spark.sql("SELECT k, v FROM gmdm.ns.big").as[(Long, Long)].collect().toSet
    // the ceiling bounds the driver-side key memo too: a scan just under
    // it stays whole in the memo, so its re-plan reads no delete file
    sys.props("graft.mor.maxDeleteKeys") = "1400"
    try {
      assert(read() == expected)
      val f0 = MoRDeleteKeyLoader.fileLoads.get()
      assert(read() == expected)
      assert(MoRDeleteKeyLoader.fileLoads.get() == f0,
        "an eager scan the ceiling admits must re-plan from the memo")
    } finally sys.props.remove("graft.mor.maxDeleteKeys"): Unit
    // the ceiling of 64 keys also bounds the driver-side key memos, so
    // the 1 333-key set is far heavier than any key-weighted memo bound
    sys.props("graft.mor.maxDeleteKeys") = "64"
    val maxBytes = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try {
      val df = spark.sql("SELECT k, v FROM gmdm.ns.big")
      assert(df.rdd.getNumPartitions >= 8, "the scan must span many partitions")
      val (l0, f0) = (MoRDeleteKeyLoader.loads.get(), MoRDeleteKeyLoader.fileLoads.get())
      assert(read() == expected)
      assert(MoRDeleteKeyLoader.loads.get() - l0 == 1,
        "one key spec over both delete files: one set per JVM, not one per partition")
      assert(MoRDeleteKeyLoader.fileLoads.get() - f0 == 2,
        "each delete file must be read once, not once per partition")
      assert(spark.sql("SELECT k, v FROM gmdm.ns.big WHERE k > 100")
        .as[(Long, Long)].collect().toSet == expected.filter(_._1 > 100))
      assert(MoRDeleteKeyLoader.loads.get() - l0 == 1 &&
        MoRDeleteKeyLoader.fileLoads.get() - f0 == 2,
        "a repeat scan must reuse the JVM's set and read no delete file")
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", maxBytes)
      sys.props.remove("graft.mor.maxDeleteKeys"): Unit
    }
  }

  test("INT delete keys on a BIGINT key column apply, eager and over the ceiling") {
    wh: Unit
    spark.sql("CREATE TABLE gmdm.ns.w (k BIGINT, v BIGINT)")
    val dir = s"$wh/ns/w"
    ManifestTable.commit((1L to 50L).map(i => (i, i * 2)).toDF("k", "v"),
      dir, append = true): Unit
    // a library delete whose key frame is INT-typed writes INT32 keys
    ManifestTable.delete((1 to 50).filter(_ % 5 == 0).toDF("k"), dir, "k")
    val expected = ManifestTable.read(spark, dir)
      .select($"k", $"v").as[(Long, Long)].collect().toSet
    assert(expected.size == 40)
    def sqlRead = spark.sql("SELECT k, v FROM gmdm.ns.w").as[(Long, Long)].collect().toSet
    assert(sqlRead == expected)
    sys.props("graft.mor.maxDeleteKeys") = "4"
    try assert(sqlRead == expected)
    finally sys.props.remove("graft.mor.maxDeleteKeys"): Unit
  }
}
