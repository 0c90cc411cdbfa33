package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:$sec%02d")

  private def ev(id: Long, min: Int, user: Long = 1L, typ: String = "click"): Event =
    Event(id, ts(min), user, typ, 1.0, "{}")

  test("watermark drops late events from tumbling windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.tumblingCounts(mem.toDF(), "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("tumbling_t")
      .outputMode("update").start()
    // Late data is dropped only once its whole WINDOW is behind the
    // watermark (window.end <= watermark), not merely its own timestamp.
    mem.addData(ev(1, 10), ev(2, 130))  // watermark → 02:10 - 30m = 01:40 > hour-0 end
    q.processAllAvailable()
    mem.addData(ev(3, 5))               // hour-0 window closed → dropped
    q.processAllAvailable()
    mem.addData(ev(4, 110))             // hour-1 window end 02:00 > wm → accepted
    q.processAllAvailable()
    q.stop()
    val counts = spark.table("tumbling_t")
      .groupBy("window_start").agg(org.apache.spark.sql.functions.max("n")).collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    assert(counts("2024-01-01 00:00:00.0") == 1L) // ev3 never added
    assert(counts("2024-01-01 01:00:00.0") == 1L)
    assert(counts("2024-01-01 02:00:00.0") == 1L)
  }

  test("dropDuplicatesWithinWatermark removes replayed keys") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.dedupWithinWatermark(mem.toDF(), "1 hour")
      .writeStream.format("memory").queryName("dedup_t")
      .outputMode("append").start()
    mem.addData(ev(1, 10), ev(1, 10), ev(2, 11))
    q.processAllAvailable()
    mem.addData(ev(1, 12)) // same key replayed within watermark
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup_t").select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("mapGroupsWithState keeps running per-user totals across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.runningUserTotals(mem.toDS())
      .writeStream.format("memory").queryName("running_t")
      .outputMode("update").start()
    mem.addData(ev(1, 1, user = 7), ev(2, 2, user = 7))
    q.processAllAvailable()
    mem.addData(ev(3, 3, user = 7))
    q.processAllAvailable()
    q.stop()
    val last = spark.table("running_t").filter($"user_id" === 7)
      .orderBy($"n_events".desc).head()
    assert(last.getLong(1) == 3L && last.getDouble(2) == 3.0)
  }

  test("idempotent parquet sink: replaying the same source adds no rows (EP2 parity)") {
    val tmp = Files.createTempDirectory("graft_stream").toString
    val src = s"$tmp/src"; val sink = s"$tmp/sink"
    Seq(ev(1, 1), ev(2, 2)).toDS().write.parquet(src)
    val stream1 = spark.readStream.schema(Seq.empty[Event].toDS().schema).parquet(src)
    EventStreams.idempotentParquetSink(stream1, sink, "event_id", s"$tmp/cp1")
      .awaitTermination()
    assert(spark.read.parquet(sink).count() == 2)
    // fresh checkpoint → full replay of the same source; anti-join keeps it idempotent
    val stream2 = spark.readStream.schema(Seq.empty[Event].toDS().schema).parquet(src)
    EventStreams.idempotentParquetSink(stream2, sink, "event_id", s"$tmp/cp2")
      .awaitTermination()
    assert(spark.read.parquet(sink).count() == 2)
  }

  test("idempotent parquet sink: only an absent or data-less sink reads as empty; an unreadable one fails the batch") {
    val tmp = Files.createTempDirectory("graft_stream_bad").toString
    val src = s"$tmp/src"
    Seq(ev(1, 1), ev(2, 2)).toDS().write.parquet(src)
    def stream = spark.readStream.schema(Seq.empty[Event].toDS().schema).parquet(src)
    // a sink directory holding only a job marker has no rows yet
    val fresh = s"$tmp/fresh"
    Files.createDirectories(java.nio.file.Paths.get(fresh))
    Files.write(java.nio.file.Paths.get(fresh, "_SUCCESS"), Array.emptyByteArray)
    EventStreams.idempotentParquetSink(stream, fresh, "event_id", s"$tmp/cp1")
      .awaitTermination()
    assert(spark.read.parquet(fresh).count() == 2)
    // a sink whose data file cannot be read must not be taken as empty:
    // that would re-append every key as a duplicate
    val bad = s"$tmp/bad"
    Files.createDirectories(java.nio.file.Paths.get(bad))
    Files.write(java.nio.file.Paths.get(bad, "part-00000-corrupt.snappy.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStreams.idempotentParquetSink(stream, bad, "event_id", s"$tmp/cp2")
        .awaitTermination()
    }
    assert(new java.io.File(bad).list().toSeq == Seq("part-00000-corrupt.snappy.parquet"),
      "the failed batch must append nothing")
  }

  test("manifestAppendSink: replay skips its own versions; a foreign commit at a mapped version fails loudly") {
    import graft.sources.ManifestTable
    val tmp = Files.createTempDirectory("graft_msink").toString
    val src = s"$tmp/src"; val tbl = s"$tmp/tbl"
    Seq(ev(1, 1), ev(2, 2)).toDS().coalesce(1).write.parquet(s"$src/p0")
    val schema = Seq.empty[Event].toDS().schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(src)
    EventStreams.manifestAppendSink(stream, tbl, base = 0, s"$tmp/cp1")
      .awaitTermination()
    assert(ManifestTable.currentVersion(tbl) == 1)
    assert(ManifestTable.sourceTag(tbl, 1).contains("stream-batch:0"))
    // foreign writer (compaction / another job) takes v2 — untagged
    ManifestTable.commit(Seq(ev(9, 9)).toDS().toDF(), tbl, append = true)
    assert(ManifestTable.currentVersion(tbl) == 2)
    // second source file: replay under a FRESH checkpoint re-delivers
    // batch 0 (→ v1, ours: verified skip) then batch 1 (→ v2, FOREIGN:
    // must fail loudly, not silently drop the batch — ADVICE r8)
    Seq(ev(3, 3)).toDS().coalesce(1).write.parquet(s"$src/p1")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStreams.manifestAppendSink(stream, tbl, base = 0, s"$tmp/cp2")
        .awaitTermination()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("foreign commit")),
      s"expected the loud foreign-writer failure, got: $e")
    // nothing was dropped silently: the table is exactly v2
    assert(ManifestTable.currentVersion(tbl) == 2)
  }

  test("manifest streaming source: one commit per micro-batch, delta-only resume, loud non-append failure") {
    import graft.sources.ManifestTable
    import org.apache.spark.sql.types._
    val tmp = Files.createTempDirectory("graft_msrc").toString
    val tbl = s"$tmp/tbl"
    ManifestTable.commit((1L to 10L).map(k => (k, s"a$k")).toDF("k", "s"),
      tbl, append = false)
    ManifestTable.commit((11L to 15L).map(k => (k, s"b$k")).toDF("k", "s"),
      tbl, append = true)
    val schema = new StructType().add("k", "long").add("s", "string")
    def stream = spark.readStream.format("graft.sources.v2.ManifestStreamSource")
      .schema(schema).option("path", tbl).load()
    val sink = s"$tmp/sink"
    def run() = {
      val q = stream.writeStream.format("parquet").option("path", sink)
        .outputMode("append").option("checkpointLocation", s"$tmp/cp")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(); q
    }
    val q1 = run()
    // one micro-batch per commit, all rows delivered exactly once
    assert(q1.recentProgress.count(_.numInputRows > 0) == 2,
      q1.recentProgress.map(_.numInputRows).mkString(","))
    assert(spark.read.parquet(sink).count() == 15)
    // resume from the checkpoint: ONLY the new commit's delta is read
    ManifestTable.commit(Seq((16L, "c16")).toDF("k", "s"), tbl, append = true)
    val q2 = run()
    val resumed = q2.recentProgress.filter(_.numInputRows > 0)
    assert(resumed.map(_.numInputRows).sum == 1, "resume must read only the delta")
    assert(spark.read.parquet(sink).count() == 16)
    // a delete commit in range cannot stream — fails loudly
    ManifestTable.delete(Seq(3L).toDF("k"), tbl, "k")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("snapshot diff")), s"got: $e")
  }

  test("maxVersionsPerTrigger coalesces a backfill into few batches; exactly-once holds (r13)") {
    import graft.sources.ManifestTable
    import org.apache.spark.sql.types._
    val tmp = Files.createTempDirectory("graft_msrc_bf").toString
    val tbl = s"$tmp/tbl"
    // a consumer that fell 6 commits behind
    (1 to 6).foreach { i =>
      ManifestTable.commit(Seq((i.toLong, s"v$i")).toDF("k", "s"),
        tbl, append = i > 1)
    }
    val schema = new StructType().add("k", "long").add("s", "string")
    def run(maxV: Int, cp: String, sink: String) = {
      val q = spark.readStream.format("graft.sources.v2.ManifestStreamSource")
        .schema(schema).option("path", tbl)
        .option("maxVersionsPerTrigger", maxV.toString).load()
        .writeStream.format("parquet").option("path", sink)
        .outputMode("append").option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(); q
    }
    // catch-up grain: 6 pending commits coalesce into ceil(6/3) = 2
    // batches instead of 6 trigger fixed costs — and no row is lost or
    // doubled (the multi-version batch is the union of version deltas)
    val q1 = run(3, s"$tmp/cp3", s"$tmp/sink3")
    assert(q1.recentProgress.count(_.numInputRows > 0) == 2,
      q1.recentProgress.map(_.numInputRows).mkString(","))
    assert(spark.read.parquet(s"$tmp/sink3").as[(Long, String)].collect().toSet ==
      (1 to 6).map(i => (i.toLong, s"v$i")).toSet)
    // default grain unchanged: one commit per batch
    val q2 = run(1, s"$tmp/cp1", s"$tmp/sink1")
    assert(q2.recentProgress.count(_.numInputRows > 0) == 6)
    assert(spark.read.parquet(s"$tmp/sink1").count() == 6)
    // once caught up, the coalescing consumer resumes at per-commit grain
    ManifestTable.commit(Seq((7L, "v7")).toDF("k", "s"), tbl, append = true)
    val q3 = run(3, s"$tmp/cp3", s"$tmp/sink3")
    val resumed = q3.recentProgress.filter(_.numInputRows > 0)
    assert(resumed.length == 1 && resumed.map(_.numInputRows).sum == 1,
      "a caught-up stream reads exactly the new commit's delta")
    // zero or negative caps refuse loudly
    intercept[Exception] { run(0, s"$tmp/cp0", s"$tmp/sink0") }
  }

  test("upsertParquetSink merges micro-batches: updates, inserts, no dups") {
    val tmp = Files.createTempDirectory("graft_upsert").toString
    val src = s"$tmp/src"; val sink = s"$tmp/sink"
    Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("k", "v", "_seq").write.parquet(src)
    val schema = spark.read.parquet(src).schema
    val s1 = spark.readStream.schema(schema).parquet(src)
    EventStreams.upsertParquetSink(s1, sink, "k", "_seq", s"$tmp/cp").awaitTermination()
    assert(spark.read.parquet(sink).orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // later files: UPDATE k=2, INSERT k=3 with an in-batch conflict
    // (seq 5 beats seq 4) — same checkpoint, so only new files process
    Seq((2L, "B", 3L), (3L, "c_old", 4L), (3L, "c", 5L)).toDF("k", "v", "_seq")
      .write.mode("append").parquet(src)
    val s2 = spark.readStream.schema(schema).parquet(src)
    EventStreams.upsertParquetSink(s2, sink, "k", "_seq", s"$tmp/cp").awaitTermination()
    assert(spark.read.parquet(sink).orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("incrementalAggParquetSink: partials merge across micro-batches ≡ full recompute; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft_incagg").toString
    val sink = s"$tmp/sink"
    val sums = Seq("total_dec" -> col("value").cast("decimal(18,2)"))
    def evv(id: Long, user: Long, v: Double) = Event(id, ts(id.toInt), user, "click", v, "{}")
    val b1 = Seq(evv(1, 1, 10.0), evv(2, 1, 5.0), evv(3, 2, 7.0))
    val b2 = Seq(evv(4, 1, 2.5), evv(5, 3, 1.0))
    // two micro-batches through ONE checkpoint lineage — the q100 contract
    // (incremental ≡ full) asserted against the merged snapshot
    val mem = MemoryStream[Event]
    mem.addData(b1: _*)
    EventStreams.incrementalAggParquetSink(mem.toDF(), sink, Seq("user_id"),
      "n_events", sums, s"$tmp/cp").awaitTermination()
    mem.addData(b2: _*)
    EventStreams.incrementalAggParquetSink(mem.toDF(), sink, Seq("user_id"),
      "n_events", sums, s"$tmp/cp").awaitTermination()
    def snapshot() = spark.read.parquet(sink)
      .select(col("user_id"), col("n_events"), col("total_dec").cast("double"))
      .orderBy("user_id").as[(Long, Long, Double)].collect().toSeq
    assert(snapshot() == Seq((1L, 3L, 17.5), (2L, 1L, 7.0), (3L, 1L, 1.0)))
    // replay: a fresh checkpoint restarts batch ids at 0, so re-running
    // the full source against the existing sink must be skipped by the
    // batch-id guard — re-summing is not idempotent and would otherwise
    // double every count
    val mem2 = MemoryStream[Event]
    mem2.addData(b1 ++ b2: _*)
    EventStreams.incrementalAggParquetSink(mem2.toDF(), sink, Seq("user_id"),
      "n_events", sums, s"$tmp/cp2").awaitTermination()
    assert(snapshot() == Seq((1L, 3L, 17.5), (2L, 1L, 7.0), (3L, 1L, 1.0)),
      "replayed batch must not double-count")
  }

  test("upsertParquetSink recovers a crashed swap from the staged commit") {
    val tmp = Files.createTempDirectory("graft_upsert_rec").toString
    val src = s"$tmp/src"; val sink = s"$tmp/sink"
    Seq((1L, "a", 1L)).toDF("k", "v", "_seq").write.parquet(src)
    val schema = spark.read.parquet(src).schema
    EventStreams.upsertParquetSink(spark.readStream.schema(schema).parquet(src),
      sink, "k", "_seq", s"$tmp/cp").awaitTermination()
    // simulate dying inside the commit window: merge staged, marker
    // created, sink (partially) deleted, promotion not yet done. Under
    // the protocol this state ALWAYS carries the marker.
    val fs = new org.apache.hadoop.fs.Path(sink)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(sink),
      new org.apache.hadoop.fs.Path(s"$tmp/sink.graft-tmp")))
    fs.create(new org.apache.hadoop.fs.Path(s"$tmp/sink.graft-commit"), true).close()
    Seq((2L, "b", 2L)).toDF("k", "v", "_seq").write.mode("append").parquet(src)
    EventStreams.upsertParquetSink(spark.readStream.schema(schema).parquet(src),
      sink, "k", "_seq", s"$tmp/cp").awaitTermination()
    // the pre-crash row survived via marker promotion, the new row merged
    assert(spark.read.parquet(sink).orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/sink.graft-commit")))
  }

  test("upsertParquetSink: trailing-slash sink stages as a SIBLING; empty pre-created dir bootstraps") {
    val tmp = Files.createTempDirectory("graft_upsert_edge").toString
    val src = s"$tmp/src"; val sink = s"$tmp/sink"
    // operator pre-creates the sink mount point (old code crash-looped on
    // schema inference over the empty dir)
    new java.io.File(sink).mkdirs()
    Seq((1L, "a", 1L)).toDF("k", "v", "_seq").write.parquet(src)
    val schema = spark.read.parquet(src).schema
    // trailing slash: string-concat staging would nest tmp INSIDE the sink
    // and the swap would delete the staged copy with it
    EventStreams.upsertParquetSink(spark.readStream.schema(schema).parquet(src),
      sink + "/", "k", "_seq", s"$tmp/cp").awaitTermination()
    Seq((2L, "b", 2L)).toDF("k", "v", "_seq").write.mode("append").parquet(src)
    EventStreams.upsertParquetSink(spark.readStream.schema(schema).parquet(src),
      sink + "/", "k", "_seq", s"$tmp/cp").awaitTermination()
    assert(spark.read.parquet(sink).orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("flatMapGroupsWithState sessionizer emits on event-time timeout and evicts state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.sessionizeWithState(mem.toDS(), gapMinutes = 10, watermark = "0 seconds")
      .writeStream.format("memory").queryName("fmgs_t")
      .outputMode("append").start()
    mem.addData(ev(1, 10, user = 1), ev(2, 15, user = 1))
    q.processAllAvailable()
    // advance the watermark far past the session deadline → timeout fires
    mem.addData(ev(3, 120, user = 2))
    q.processAllAvailable()
    mem.addData(ev(4, 240, user = 2)) // pushes watermark past user-2 session too
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("fmgs_t").orderBy("session_start").collect()
    assert(sessions.length >= 1)
    val s1 = sessions(0)
    assert(s1.getLong(0) == 1L && s1.getLong(3) == 2L) // user 1, 2 events merged
    assert(s1.getTimestamp(2).getTime - s1.getTimestamp(1).getTime == 15 * 60000L) // 5m span + 10m gap
  }

  test("stream-stream join matches purchases within the event-time window") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = EventStreams.clickPurchaseJoin(clicks.toDF(), purchases.toDF(), 30, "1 hour")
      .writeStream.format("memory").queryName("ssjoin_t")
      .outputMode("append").start()
    clicks.addData(ev(1, 60, user = 1), ev(2, 200, user = 1))
    purchases.addData(ev(10, 40, user = 1), ev(11, 190, user = 1), ev(12, 300, user = 2))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("ssjoin_t")
      .select("click_id", "purchase_id").as[(Long, Long)].collect().toSet
    // click@60 ← purchase@40 (within 30m); click@200 ← purchase@190;
    // purchase@300 is user 2 / after any click → no match
    assert(pairs == Set((1L, 10L), (2L, 11L)))
  }

  test("stream-stream join EVICTS state once the watermark passes the range") {
    // The 100 TB argument for q272 made empirical: both join sides buffer
    // rows in the state store, and the watermark must provably REMOVE them
    // — otherwise an unbounded stream accumulates unbounded state. Feed a
    // matched pair, snapshot state size, advance event time ~10 h on BOTH
    // sides (global watermark = min of the two), and assert the store
    // reports removals and ends below its peak.
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = EventStreams.clickPurchaseJoin(clicks.toDF(), purchases.toDF(), 30, "1 hour")
      .writeStream.format("memory").queryName("ssjoin_evict_t")
      .outputMode("append").start()
    clicks.addData(ev(1, 60, user = 1))
    purchases.addData(ev(10, 40, user = 1))
    q.processAllAvailable()
    val peak = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    assert(peak >= 2, s"expected both sides buffered, state=$peak")
    // advance watermark: wm = max_event_time − 1 h ≈ min 540 ≫ old rows +
    // the 30-min join range, so rows at mins 40/60 can never match again
    clicks.addData(ev(2, 600, user = 9))
    purchases.addData(ev(11, 600, user = 9))
    q.processAllAvailable()
    // eviction lands in the batch AFTER the watermark update — run one more
    clicks.addData(ev(3, 610, user = 9))
    purchases.addData(ev(12, 610, user = 9))
    q.processAllAvailable()
    val removed = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsRemoved).sum
    val fin = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q.stop()
    assert(removed >= 2, s"watermark advance removed no state rows (removed=$removed)")
    // only the 4 fresh rows (mins 600/610, both sides) may remain; the
    // originals at mins 40/60 must be gone — unevicted state would show 6
    assert(fin <= 4, s"state did not shrink: final=$fin peak=$peak removed=$removed")
  }

  test("stateful aggregation runs on the RocksDB state store backend") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    EventStreams.useRocksDbStateStore(spark)
    try {
      val mem = MemoryStream[Event]
      val q = EventStreams.tumblingCounts(mem.toDF(), "1 hour", "30 minutes")
        .writeStream.format("memory").queryName("rocks_t")
        .outputMode("update").start()
      mem.addData(ev(1, 10), ev(2, 20), ev(3, 70))
      q.processAllAvailable()
      // confirm the running query actually uses RocksDB
      val progress = q.lastProgress.stateOperators
      q.stop()
      assert(spark.table("rocks_t").count() >= 2)
      assert(progress.nonEmpty)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState keeps multi-variable per-user state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    EventStreams.useRocksDbStateStore(spark) // transformWithState requires it
    try {
      val mem = MemoryStream[Event]
      val q = EventStreams.runningUserStats(mem.toDS())
        .writeStream.format("memory").queryName("tws_t")
        .outputMode("update").start()
      mem.addData(ev(1, 10, user = 7, typ = "view"), ev(2, 11, user = 7, typ = "click"))
      q.processAllAvailable()
      mem.addData(ev(3, 12, user = 7, typ = "view"), ev(4, 13, user = 8, typ = "view"))
      q.processAllAvailable()
      q.stop()
      val last = spark.table("tws_t")
        .groupBy("user_id")
        .agg(org.apache.spark.sql.functions.max("n_events").as("n"),
          org.apache.spark.sql.functions.max("n_types").as("nt"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
      assert(last(7L) == ((3L, 2)))  // counter state survived the batch gap
      assert(last(8L) == ((1L, 1)))  // distinct-type MapState tracked per user
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stateless training-data ops compose with Structured Streaming") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    // hash split/sample are per-row filters with no state — they run
    // unchanged inside a streaming plan (the 100 TB ingest shape: assign
    // splits AS data arrives, no batch re-shuffle later)
    val q = graft.operators.TrainingData.assignSplit(mem.toDF(), $"event_id", 80, 10)
      .writeStream.format("memory").queryName("split_t")
      .outputMode("append").start()
    mem.addData((1L to 50L).map(i => ev(i, i.toInt % 60)): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("split_t")
      .select($"event_id", $"split").as[(Long, String)].collect().toMap
    val batch = graft.operators.TrainingData.assignSplit(
        (1L to 50L).map(i => ev(i, i.toInt % 60)).toDF(), $"event_id", 80, 10)
      .select($"event_id", $"split").as[(Long, String)].collect().toMap
    assert(streamed == batch) // identical assignment, stream or batch
  }

  test("stream-static join enriches events against a broadcast dimension") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val mem = MemoryStream[Event]
    // the standard ingest-enrichment shape: the static dim is planned as
    // a broadcast hash join against every micro-batch — no stream-side
    // shuffle, no state store, and the dim can be re-read per batch on a
    // real source (refreshed dims without restarting the query)
    val dim = Seq((1L, "bronze"), (2L, "gold")).toDF("user_id", "segment")
    val q = mem.toDF().join(broadcast(dim), Seq("user_id"), "left")
      .select($"event_id", coalesce($"segment", lit("unknown")).as("segment"))
      .writeStream.format("memory").queryName("enrich_t")
      .outputMode("append").start()
    mem.addData(ev(1, 1, user = 1), ev(2, 2, user = 2), ev(3, 3, user = 9))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("enrich_t")
      .select($"event_id", $"segment").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "bronze", 2L -> "gold", 3L -> "unknown"))
  }

  test("session windows merge events within gap under streaming") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.sessionCounts(mem.toDF(), "10 minutes", "1 hour")
      .writeStream.format("memory").queryName("session_t")
      .outputMode("complete").start()
    mem.addData(ev(1, 10), ev(2, 15), ev(3, 40))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("session_t").orderBy("session_start")
      .collect().map(_.getLong(3)).toSeq
    assert(sessions == Seq(2L, 1L)) // {10,15} merged; {40} alone
  }
}
