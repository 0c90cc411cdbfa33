package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.operators.Relational

/** Structured Streaming pipelines over the `events` schema.
  *
  * The reference's streaming job (`src/spark_pgsql/spark_streaming.py`) is an
  * incremental batch: Kafka source → parse → anti-join → JDBC append under
  * `trigger(once=True)`. Here that generalizes to: any streaming source →
  * event-time windowed/stateful transforms with real watermarks →
  * idempotent foreachBatch sink under `Trigger.AvailableNow` (the
  * non-deprecated successor of run-once).
  *
  * Scale: state stores are keyed by (window/session, key) — Spark shards
  * them by the shuffle partitioning; watermarks bound state size. The
  * idempotent sink anti-joins only the sink's key column (broadcast).
  */
object EventStreams {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double, props: String)

  case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** Tumbling event-time window counts with a watermark: late events beyond
    * `watermark` are dropped; state for closed windows is evicted. */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("total"))

  /** Session windows (inactivity gap) per user under a watermark. */
  def sessionCounts(events: DataFrame, gap: String = "10 minutes",
                    watermark: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Streaming exact dedup bounded by the watermark (the streaming analogue
    * of the reference's producer-side dedup A1). */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Arbitrary stateful aggregation: running per-user totals via
    * mapGroupsWithState (processing-time timeout unused — state lives for
    * the stream's lifetime; a watermark-timeout variant would evict). */
  def runningUserTotals(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          batch.foreach { e => n += 1; tot += e.value }
          val next = UserRunning(userId, n, tot)
          state.update(next)
          next
      }
  }

  /** Stream-stream inner join with event-time range bounds: each click
    * joins purchases of the same user within [click − window, click]. Both
    * sides carry watermarks so join state is evicted once the range can no
    * longer match — bounded state at 100 TB stream volumes.
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
                        windowMinutes: Int = 30,
                        watermark: String = "1 hour"): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"), col("user_id"),
      col("ts").as("click_ts")).withWatermark("click_ts", watermark)
    val p = purchases.select(col("event_id").as("purchase_id"),
      col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col("purchase_ts") <= col("click_ts"))
      .select(col("click_id"), col("user_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"))
  }

  /** Production state-store settings: RocksDB-backed state (ships with
    * Spark) keeps large watermark/session/join state off-heap and
    * incremental-checkpointable — the right default once state exceeds
    * executor heap. Call before starting stateful queries. */
  def useRocksDbStateStore(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  case class SessionSummary(user_id: Long, session_start: java.sql.Timestamp,
                            session_end: java.sql.Timestamp, n_events: Long)

  /** Custom sessionization with explicit state + EVENT-TIME TIMEOUT: unlike
    * `session_window` (fixed gap semantics), this emits a session summary
    * only when the watermark passes the session's gap deadline, and the
    * per-user state is EVICTED on timeout — bounded state at any scale.
    * The shape to copy for bespoke state machines `session_window` can't
    * express. */
  def sessionizeWithState(events: Dataset[Event], gapMinutes: Int = 10,
                          watermark: String = "30 minutes"): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long, Long), SessionSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId, batch, state: GroupState[(Long, Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            val (uid, start, last, n) = state.get
            state.remove()
            Iterator(SessionSummary(uid, new java.sql.Timestamp(start),
              new java.sql.Timestamp(last + gapMs), n))
          } else {
            val sortedTs = batch.map(_.ts.getTime).toSeq.sorted
            val closed = Seq.newBuilder[SessionSummary]
            var cur = state.getOption.map { case (_, s, l, n) => (s, l, n) }
            sortedTs.foreach { t =>
              cur match {
                case Some((s, l, n)) if t - l < gapMs => cur = Some((s, t, n + 1))
                case Some((s, l, n)) =>
                  closed += SessionSummary(userId, new java.sql.Timestamp(s),
                    new java.sql.Timestamp(l + gapMs), n)
                  cur = Some((t, t, 1L))
                case None => cur = Some((t, t, 1L))
              }
            }
            cur.foreach { case (s, l, n) =>
              state.update((userId, s, l, n))
              state.setTimeoutTimestamp(l + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  case class UserStat(user_id: Long, n_events: Long, total_value: Double,
                      n_types: Int)

  /** Spark 4 `transformWithState` processor: per-user running stats with
    * two independent typed state variables (a counter ValueState and a
    * seen-event-types MapState) — the post-`mapGroupsWithState` API:
    * composable state vars, TTL, timers. Requires the RocksDB state store
    * provider ([[useRocksDbStateStore]]).
    *
    * With `ttl = Some(d)`, idle users' state is evicted by the store
    * itself — no hand-rolled timeout state machine. Caveat (verified
    * empirically on 4.1): `TimeMode.ProcessingTime` (which a TTL requires)
    * makes the microbatch loop schedule continuous empty batches under the
    * default trigger, so `processAllAvailable` never quiesces — production
    * queries pair it with a real `Trigger.ProcessingTime` interval; the
    * no-TTL path runs under `TimeMode.None` and quiesces normally. */
  class UserStatsProcessor(ttl: Option[java.time.Duration])
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserStat] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, ValueState, MapState}
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var totals: ValueState[(Long, Double)] = _
    @transient private var types: MapState[String, Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val cfg = ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE)
      totals = getHandle.getValueState[(Long, Double)]("totals",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble), cfg)
      types = getHandle.getMapState[String, Boolean]("types",
        Encoders.STRING, Encoders.scalaBoolean, cfg)
    }
    override def handleInputRows(userId: Long, rows: Iterator[Event],
                                 timers: streaming.TimerValues): Iterator[UserStat] = {
      var (n, tot) = Option(totals.get()).getOrElse((0L, 0.0))
      rows.foreach { e =>
        n += 1; tot += e.value
        if (!types.containsKey(e.event_type)) types.updateValue(e.event_type, true)
      }
      totals.update((n, tot))
      Iterator.single(UserStat(userId, n, tot, types.keys().size))
    }
  }

  /** Running per-user stats via `transformWithState`. */
  def runningUserStats(events: Dataset[Event],
                       ttl: Option[java.time.Duration] = None): Dataset[UserStat] = {
    import events.sparkSession.implicits._
    val timeMode =
      if (ttl.isDefined) org.apache.spark.sql.streaming.TimeMode.ProcessingTime()
      else org.apache.spark.sql.streaming.TimeMode.None()
    events.groupByKey(_.user_id)
      .transformWithState(new UserStatsProcessor(ttl), timeMode,
        OutputMode.Update(), implicitly[org.apache.spark.sql.Encoder[UserStat]])
  }

  /** Streaming MERGE sink: per micro-batch, upsert into a keyed parquet
    * target — matched keys take the batch row (last-wins within the batch
    * by `seqCol`), unmatched target rows survive, new keys insert. The
    * streaming face of [[Relational.upsert]]; where [[idempotentParquetSink]]
    * can only insert (the reference's EP2), this also UPDATES — CDC-style
    * ingestion. The rewrite is atomic-enough for a single writer: the
    * merged frame is staged to `<sinkDir>.tmp`, then swapped in.
    *
    * At 100 TB: partition the target and merge only the partitions present
    * in the batch; the per-batch row semantics are exactly this function.
    */
  def upsertParquetSink(stream: DataFrame, sinkDir: String, key: String,
                        seqCol: String, checkpointDir: String): StreamingQuery = {
    val spark = stream.sparkSession
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // no batch-id guard: the merge is idempotent by construction
        // (replayed keys just re-take the same last-wins row)
        stagedRewrite(spark, sinkDir, batchId = None) { targetOpt =>
          val target = targetOpt.getOrElse(spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            batch.drop(seqCol).schema))
          val targetCols = batch.columns.filterNot(_ == seqCol)
          Relational.upsert(
            target.select(targetCols.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*),
            batch, Seq(key), org.apache.spark.sql.functions.col(seqCol))
        }
      }
      .start()
  }

  /** Exactly-once streaming sink into a [[graft.sources.ManifestTable]]:
    * each micro-batch appends as the table version `base + batchId + 1` —
    * a DETERMINISTIC batch→version mapping, so a replayed batch (restart,
    * retry, checkpoint recovery, even a fresh checkpoint re-delivering
    * the whole source) either fast-path skips (version already visible)
    * or loses the no-replace manifest CAS — and in BOTH cases the skip is
    * VERIFIED against the version's source-tag ledger (`v<N>.src`,
    * claimed no-replace before the commit) rather than assumed: a version
    * taken by a foreign writer (compaction, delete, a different sink
    * lineage) carries no/another tag and fails loudly instead of silently
    * dropping the batch (ADVICE r8). CAS losses surface as the dedicated
    * `ManifestTable.CommitConflictException`, not string-matched message
    * text. Every committed micro-batch lands as a time-travelable
    * snapshot feeding the change feed (q332) for free. `base` is the
    * table's version when the stream is wired (0 for a fresh table).
    * Residual race (accepted under the table's single-writer contract): a
    * foreign writer claiming the version BETWEEN this sink's tag claim
    * and its commit is attributed to the sink's own lineage. */
  def manifestAppendSink(stream: DataFrame, tableDir: String, base: Int,
                         checkpointDir: String): StreamingQuery = {
    import graft.sources.ManifestTable
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val v = base + batchId.toInt + 1
        // the tag names the BATCH, not the checkpoint instance: a replay
        // under a fresh checkpoint re-delivers the same batch ids over
        // the same source and must recognize its own prior commits
        val tag = s"stream-batch:$batchId"
        def verifyOurs(context: String): Unit = {
          val existing = ManifestTable.sourceTag(tableDir, v)
          // expire() reclaims .src sidecars but rolls stream tags up into
          // the durable ledger first — a replay after retention expiry
          // must still recognize its own commit (ADVICE r9)
          if (existing.isEmpty &&
              ManifestTable.streamEpochLedger(tableDir).contains(tag)) return
          if (!existing.contains(tag)) throw new IllegalStateException(
            s"manifestAppendSink: $context, but version $v of $tableDir " +
              s"was committed by ${existing.map(t => s"'$t'")
                .getOrElse("an untagged writer")}, not this stream's batch " +
              s"$batchId — a foreign commit broke the batch->version " +
              "mapping; failing loudly instead of dropping the batch")
        }
        if (ManifestTable.currentVersion(tableDir) >= v) {
          verifyOurs(s"version $v already visible")
        } else {
          ManifestTable.claimSourceTag(tableDir, v, tag)
          verifyOurs(s"claiming the v$v ledger")
          try { ManifestTable.commitAt(batch, tableDir, v, append = v > 1): Unit }
          catch {
            case _: ManifestTable.CommitConflictException =>
              verifyOurs(s"lost the v$v commit CAS")
          }
        }
      }
      .start()
  }

  /** Streaming incremental-aggregate sink: per micro-batch, reduce the
    * batch to per-key partials ([[Relational.partialAggs]]) and re-sum
    * them into the parquet snapshot ([[Relational.mergePartialAggs]]) —
    * the streaming face of q100's snapshot+delta maintenance, under the
    * same staged-commit protocol as [[upsertParquetSink]]. History is
    * never rescanned: each batch moves |batch| rows in and |keys| rows
    * through the rewrite.
    *
    * Unlike the upsert sink, re-summing is NOT naturally idempotent — a
    * replayed micro-batch would double-count — so commits carry the batch
    * id in a `_graft_batchid` file inside the sink (underscore-prefixed:
    * invisible to parquet readers) and a batch ≤ the last committed id is
    * skipped. This binds the sink to ONE checkpoint lineage: pointing a
    * fresh checkpoint (batch ids restart at 0) at an existing sink is
    * treated as a replay, exactly the Structured Streaming contract that
    * (checkpoint, sink) move together.
    */
  def incrementalAggParquetSink(stream: DataFrame, sinkDir: String,
                                keys: Seq[String], cntCol: String,
                                sums: Seq[(String, org.apache.spark.sql.Column)],
                                checkpointDir: String): StreamingQuery = {
    val spark = stream.sparkSession
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val delta = Relational.partialAggs(batch, keys, cntCol, sums)
        stagedRewrite(spark, sinkDir, batchId = Some(batchId)) {
          case Some(snapshot) =>
            Relational.mergePartialAggs(Seq(snapshot, delta), keys, cntCol, sums.map(_._1))
          case None => delta
        }
      }
      .start()
  }

  /** Shared staged-commit rewrite for the parquet merge sinks: read the
    * current sink, compute its full replacement via `merge` (None when the
    * sink is absent/empty), stage to a sibling tmp dir, swap atomically.
    *
    * Crash recovery, marker-based: the marker file means "tmp is the
    * committed truth" — it is created only AFTER tmp holds the full merge
    * and removed only AFTER tmp has been promoted. So: marker + tmp →
    * finish the promotion (the sink may be absent or partially deleted);
    * marker without tmp → the promotion completed, only the marker removal
    * was lost.
    *
    * `batchId`, when given, makes replays no-ops: the id is committed
    * WITH the data (written into tmp before the marker, so it promotes
    * atomically with the merge) and a call whose id is ≤ the committed id
    * returns without touching the sink.
    *
    * SCOPE: crash-safe where directory rename is atomic (local FS, HDFS).
    * On object stores (S3A renames are copy-then-delete) a crash
    * mid-rename can leave BOTH copies partial — raw-parquet merge cannot
    * be made atomic there; use a transactional table format for that
    * deployment.
    */
  private def stagedRewrite(spark: SparkSession, sinkDir: String,
                            batchId: Option[Long])
                           (merge: Option[DataFrame] => DataFrame): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    // Path() normalizes trailing slashes, so getParent/getName are safe
    val sinkPath = new org.apache.hadoop.fs.Path(sinkDir)
    // SIBLING of the sink (never a child — string concat on a
    // trailing-slash sinkDir would stage INSIDE the sink and the swap
    // would delete the staged copy together with the sink)
    val tmpPath = new org.apache.hadoop.fs.Path(
      sinkPath.getParent, sinkPath.getName + ".graft-tmp")
    val marker = new org.apache.hadoop.fs.Path(
      sinkPath.getParent, sinkPath.getName + ".graft-commit")
    val fs = sinkPath.getFileSystem(hconf)
    def renameOrDie(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit =
      require(fs.rename(src, dst), s"stagedRewrite: rename $src -> $dst failed")
    if (fs.exists(marker)) {
      if (fs.exists(tmpPath)) {
        fs.delete(sinkPath, true)
        renameOrDie(tmpPath, sinkPath)
      }
      fs.delete(marker, false)
    }
    val idFile = new org.apache.hadoop.fs.Path(sinkPath, "_graft_batchid")
    def committedId: Option[Long] =
      if (!fs.exists(idFile)) None
      else {
        val in = fs.open(idFile)
        try Some(new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
        finally in.close()
      }
    if (batchId.exists(id => committedId.exists(id <= _))) return
    // A sink dir that exists but holds no files (operator pre-created
    // the mount point) bootstraps like an absent one; any OTHER read
    // failure (corrupt part file, transient FS error) must propagate —
    // swallowing it would merge against an empty target and the swap
    // would silently discard every previously merged row.
    val sinkHasData = fs.exists(sinkPath) &&
      fs.listStatus(sinkPath).exists(!_.getPath.getName.startsWith("_"))
    val merged = merge(if (sinkHasData) Some(spark.read.parquet(sinkDir)) else None)
    // commit protocol: stage full merge (+ batch id) → marker → delete
    // sink → promote → unmark. Every crash window either predates the
    // marker (sink untouched, stale tmp is discarded next run) or is
    // covered by the marker recovery above.
    fs.delete(tmpPath, true)
    merged.write.parquet(tmpPath.toString)
    batchId.foreach { id =>
      val out = fs.create(new org.apache.hadoop.fs.Path(tmpPath, "_graft_batchid"), true)
      try out.write(id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    fs.create(marker, true).close()
    fs.delete(sinkPath, true)
    renameOrDie(tmpPath, sinkPath)
    fs.delete(marker, false)
    ()
  }

  /** The reference's EP2 sink semantics (J1 + W1): per micro-batch, drop
    * rows whose key already exists in the sink, then append. Idempotent
    * under replays. Only an absent sink, or one holding no data file yet,
    * reads as empty; any other failure to read the sink (an unreadable
    * footer, a listing error) fails the batch, since treating it as "no
    * rows yet" would re-append every key as a duplicate. */
  def idempotentParquetSink(stream: DataFrame, sinkDir: String, key: String,
                            checkpointDir: String): StreamingQuery = {
    val spark = stream.sparkSession
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val existing =
          if (hasDataFiles(spark, sinkDir)) spark.read.parquet(sinkDir).select(key)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            batch.select(key).schema)
        Relational.idempotentAppend(batch, existing, key)
          .write.mode("append").parquet(sinkDir)
        ()
      }
      .start()
  }

  /** Whether `dir` exists and holds a data file or partition directory
    * (a name Spark's file index does not skip: not `_`- or `.`-prefixed)
    * — one listing on the driver, no Spark job. */
  private def hasDataFiles(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }
}
