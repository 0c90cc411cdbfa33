package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Relational

/** Event-time windowing + semi-structured (JSON props) surface. These are
  * the batch-checkable faces of the streaming operators — the same
  * `window`/`session_window` expressions run under Structured Streaming in
  * `graft.streaming` (covered by ScalaTest with MemoryStream; watermarks
  * and triggers aren't DuckDB-expressible).
  */
object EventsQueries {

  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,2)")).cast("double")

  // q70: tumbling 1-hour event-time windows per event type.
  def tumblingHourly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).events
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("total"))
      .select($"w.start".as("window_start"), $"event_type", $"n", $"total")
      .orderBy($"window_start", $"event_type")
  }

  // q71: sliding windows (1 hour long, 15-minute slide — 4 windows/event).
  def slidingCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).events
      .groupBy(window($"ts", "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"), dsum($"value").as("total"))
      .select($"w.start".as("window_start"), $"n", $"total")
      .orderBy($"window_start")
  }

  // q72: session windows (10-minute inactivity gap) per user.
  def sessionWindows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).events
      .groupBy(session_window($"ts", "10 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("total"))
      .select($"user_id", $"w.start".as("session_start"), $"w.end".as("session_end"),
        $"n_events", $"total")
      .orderBy($"user_id", $"session_start")
  }

  // q73: JSON props → typed extraction via from_json into a map + stats.
  def jsonProps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).events
      .select($"event_type",
        element_at(from_json($"props", org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.IntegerType)), "k").as("k"))
      .groupBy($"event_type")
      .agg(count($"k").as("n"), min($"k").as("min_k"), max($"k").as("max_k"),
        sum($"k").as("sum_k"))
      .orderBy($"event_type")
  }

  // q95: gap-filled resampling + forward fill — the time-series staple.
  // Per user (a 10% id slice keeps the grid bounded), bucket events into
  // 15-minute bins, generate the FULL bin grid over the user's active
  // span, left-join actuals, and forward-fill the last observed bin sum
  // into the gaps. The grid explode is per-user rows (no shuffle beyond
  // the bucket aggregate); the fill is one ordered window per user.
  def resampleFfill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = Tables(s, dir).events
      .filter($"user_id" % 10 === 0)
      .groupBy($"user_id", window($"ts", "15 minutes").getField("start").as("bucket_ts"))
      .agg(count(lit(1)).as("n"), dsum($"value").as("v"))
    val grid = b.groupBy($"user_id").agg(min($"bucket_ts").as("lo"), max($"bucket_ts").as("hi"))
      .select($"user_id",
        explode(expr("sequence(lo, hi, interval 15 minutes)")).as("bucket_ts"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"bucket_ts")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    grid.join(b, Seq("user_id", "bucket_ts"), "left")
      .select($"user_id", $"bucket_ts",
        coalesce($"n", lit(0L)).as("n_events"),
        last($"v", ignoreNulls = true).over(w).as("v_ffill"))
      .orderBy($"user_id", $"bucket_ts")
  }

  // q96: windowed anomaly detection — daily event counts per type scored
  // against the prior 7 OBSERVED days for that type (a ROWS frame: days
  // with zero events don't appear in `daily`, so the baseline is the last
  // 7 active days, not a calendar week — gap-fill first, as in q95, for a
  // calendar-bounded baseline): z = (n − mean) / stddev. n² is computed in
  // DOUBLE (exact for daily counts < 2^26; Spark's non-ANSI long multiply
  // would silently WRAP where DuckDB errors), so mean/var/sqrt are single
  // exactly-rounded IEEE ops — identical in both engines; rounded to 6
  // for the hash. Rows without 7 prior observations or with zero variance
  // are excluded (cross-engine NULL/inf semantics differ there).
  def anomalyZscore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables(s, dir).events
      .groupBy($"event_type", date_trunc("day", $"ts").as("day"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"day").rowsBetween(-7, -1)
    val stats = daily.select($"event_type", $"day", $"n",
      count($"n").over(w).as("w_cnt"),
      sum($"n").over(w).cast("long").as("w_sum"),
      sum($"n".cast("double") * $"n").over(w).as("w_sumsq"))
    stats
      .filter($"w_cnt" === 7)
      .select($"event_type", $"day", $"n",
        (($"w_sumsq" - $"w_sum".cast("double") * $"w_sum" / 7) / 6).as("variance"),
        ($"w_sum".cast("double") / 7).as("mean"))
      .filter($"variance" > 0)
      .select($"event_type", $"day", $"n",
        round(($"n" - $"mean") / sqrt($"variance"), 6).as("z"))
      .orderBy($"event_type", $"day")
  }

  // q76: retention cohorts — users grouped by first-seen day, counted on
  // each later active day. Two hash aggregates + one equi-join on user_id;
  // the (cohort, day_n) matrix is tiny however large the event log is.
  def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir).events
      .select($"user_id", date_trunc("day", $"ts").as("day"))
    val cohorts = ev.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    ev.join(cohorts, Seq("user_id"))
      .groupBy($"cohort_day", datediff($"day", $"cohort_day").cast("int").as("day_n"))
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy($"cohort_day", $"day_n")
  }

  // q77: ordered funnel view → click → purchase, each step's timestamp
  // strictly after the previous step's. Three aggregate+join rounds, each
  // shuffling only (user_id, ts) pairs — no per-user event sorting.
  def funnelSteps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir).events.select($"user_id", $"event_type", $"ts")
    val t1 = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t1"))
    val t2 = ev.filter($"event_type" === "click").join(t1, Seq("user_id"))
      .filter($"ts" > $"t1")
      .groupBy($"user_id").agg(min($"ts").as("t2"))
    val t3 = ev.filter($"event_type" === "purchase").join(t2, Seq("user_id"))
      .filter($"ts" > $"t2")
      .groupBy($"user_id").agg(min($"ts").as("t3"))
    val counts = t1.agg(count(lit(1)).as("n")).select(lit("1_view").as("step"), $"n")
      .unionByName(t2.agg(count(lit(1)).as("n")).select(lit("2_click").as("step"), $"n"))
      .unionByName(t3.agg(count(lit(1)).as("n")).select(lit("3_purchase").as("step"), $"n"))
    counts.orderBy($"step")
  }

  // q112: corrupt-record robustness — a deterministic subset of the JSON
  // props (event_id % 7 == 0) is mangled with a leading garbage prefix,
  // then parsed permissively. The oracle never parses JSON at all: it
  // KNOWS the corruption set arithmetically, so the face asserts Spark's
  // null-on-malformed semantics exactly partition the rows — no valid
  // row fails to parse, no corrupt row "parses". That contract (bad
  // records become NULLs to count/quarantine, never job failures) is
  // what keeps a 100 TB ingest running when 0.01% of upstream is trash.
  def corruptJson(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).events
      .select($"event_type", $"event_id",
        when($"event_id" % 7 === 0, concat(lit("corrupt{"), $"props"))
          .otherwise($"props").as("p"))
      .select($"event_type", from_json($"p",
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType)).as("m"), $"p")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when($"m".isNotNull, 1L).otherwise(0L)).as("n_parsed"),
        sum(when($"m".isNull, 1L).otherwise(0L)).as("n_corrupt"),
        sum(when($"m".isNotNull, length($"p")).otherwise(0)).cast("long").as("parsed_bytes"))
      .orderBy($"event_type")
  }

  // q119: activity-gap detection — the time-series complement of
  // sessionization: per user, how often consecutive events are more than
  // an hour apart, and the longest silence. Gap arithmetic runs on
  // integer epoch MILLIseconds (seconds would differ: Spark's
  // unix_timestamp truncates sub-second parts where DuckDB's
  // BIGINT-cast epoch() rounds); ordering ties on equal timestamps
  // break by event_id, a total order.
  def eventGaps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ms", $"event_id")
    Tables(s, dir).events
      .select($"user_id", $"event_id", unix_millis($"ts").as("ms"))
      .withColumn("_gap", $"ms" - lag($"ms", 1).over(w))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when($"_gap" > 3600000L, 1L).otherwise(0L)).as("n_gaps_1h"),
        coalesce(max($"_gap"), lit(0L)).as("max_gap_ms"))
      .orderBy($"user_id")
  }

  // q128: burst dedup — the event-log form of near-dup removal: within
  // each (user, event_type), an event arriving ≤ 60 s after its
  // predecessor is a duplicate of the burst, not a new action (double
  // clicks, retry storms, at-least-once replays). One lag() per keyed
  // window; gap arithmetic on integer epoch millis (q119's recipe);
  // collect_list skips nulls, so the conditional id fingerprint hashes
  // exactly the kept set — mirrored by FILTER on DuckDB's list().
  def burstDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.{ParityFunctions => PF}
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id", $"event_type").orderBy($"ms", $"event_id")
    Tables(s, dir).events
      .select($"event_id", $"user_id", $"event_type", unix_millis($"ts").as("ms"))
      .withColumn("_gap", $"ms" - lag($"ms", 1).over(w))
      .withColumn("_keep", $"_gap".isNull || $"_gap" > 60000L)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when($"_keep", 1L).otherwise(0L)).as("n_kept"),
        PF.idsFingerprint(when($"_keep", $"event_id")).as("kept_md5"))
      .orderBy($"event_type")
  }

  // q129: first-order Markov transitions — per user, each event's
  // successor in (ms, event_id) order; the (from, to) count matrix is a
  // sequence-mining primitive (and the batch face of what a streaming
  // state machine would track). lead() is one pass over the keyed
  // window; the result is |types|² rows regardless of corpus size.
  def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ms", $"event_id")
    Tables(s, dir).events
      .select($"user_id", $"event_type", unix_millis($"ts").as("ms"), $"event_id")
      .withColumn("to_type", lead($"event_type", 1).over(w))
      .filter($"to_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"to_type")
      .agg(count(lit(1)).as("n"))
      .orderBy($"from_type", $"to_type")
  }

  // q130: first-touch attribution — every user's FIRST event type claims
  // all their subsequent purchases. Purchase value stays DECIMAL through
  // both aggregation levels (per-user, then per-first-touch-type) and
  // only the final result casts to double, so the two-level sum is exact
  // regardless of partitioning.
  def firstTouchAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ms", $"event_id")
    val ev = Tables(s, dir).events
      .select($"event_id", $"user_id", $"event_type", $"value", unix_millis($"ts").as("ms"))
    val firstTouch = ev.withColumn("_rn", row_number().over(w)).filter($"_rn" === 1)
      .select($"user_id", $"event_type".as("first_type"))
    val purchases = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("np"), sum($"value".cast("decimal(18,2)")).as("pval"))
    firstTouch.join(purchases, Seq("user_id"), "left")
      .groupBy($"first_type")
      .agg(count(lit(1)).as("n_users"),
        sum(coalesce($"np", lit(0L))).as("n_purchases"),
        sum(coalesce($"pval", lit(0).cast("decimal(18,2)"))).cast("double").as("purchase_value"))
      .orderBy($"first_type")
  }

  // q135: re-aggregatable distinct-count sketches — the 100 TB shape for
  // distinct users: build a DataSketches HLL sketch PER (event_type, day)
  // partial, then MERGE sketches across days (hll_union_agg) instead of
  // re-scanning raw events — the pattern that lets daily segment sketches
  // roll up to any time range at constant cost. The sketch bytes aren't
  // cross-engine-comparable, so the gate face is q28's accuracy-contract
  // pattern: exact count + a TRUE the estimate must stay within 5% of.
  def hllDailyReagg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir).events
      .select($"user_id", $"event_type", to_date($"ts").as("day"))
    val daily = ev.groupBy($"event_type", $"day")
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    val merged = daily.groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"),
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_users"))
    val exact = ev.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("exact_users"))
    merged.join(exact, Seq("event_type"))
      .select($"event_type", $"n_days", $"exact_users",
        (abs($"approx_users" - $"exact_users") / $"exact_users" <= 0.05)
          .as("within_5pct"))
      .orderBy($"event_type")
  }

  // q137: 7-day rolling active users — the windowed-distinct metric every
  // activity dashboard needs, in its exact-at-scale shape: first reduce
  // raw events to DISTINCT (user, day) (the only pass over the full
  // log), then fan each user-day out to the ≤7 window days it
  // contributes to and count distinct per day. The fan-out runs on the
  // REDUCED set — 7·|user-days|, not 7·|events| — and the alternative
  // (count distinct over a RANGE frame) funnels each day's users through
  // one window partition, which is exactly what doesn't survive 100 TB.
  def rollingActiveUsers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ud = Tables(s, dir).events
      .select($"user_id", to_date($"ts").as("day")).distinct()
    val bounds = ud.agg(max($"day").as("max_day"))
    ud.select($"user_id", explode(sequence($"day", date_add($"day", 6))).as("day2"))
      .crossJoin(broadcast(bounds))
      .filter($"day2" <= $"max_day")
      .groupBy($"day2".as("day"))
      .agg(countDistinct($"user_id").as("active_7d"))
      .orderBy($"day")
  }

  // q142: failure-safe expression surface — try_cast / try_divide return
  // NULL where the strict forms raise or poison (the ingest contract for
  // dirty feeds: a bad record must not kill a 100 TB job, and the null
  // counts ARE the data-quality signal). The mixed column is numeric for
  // 2/3 of rows and a JSON blob for the rest, so the parse rate is
  // exercised, not assumed; the oracle spells the same semantics with
  // TRY_CAST and NULLIF-guarded division.
  def tryFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).events
      .select($"event_type", $"event_id", $"value",
        when($"event_id" % 3 === 0, $"props")
          .otherwise($"event_id".cast("string")).as("mixed"))
      .select($"event_type",
        expr("try_cast(mixed AS BIGINT)").as("parsed"),
        expr("try_divide(value, event_id % 5)").as("ratio"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        count($"parsed").as("n_parsed"),
        sum($"parsed").as("sum_parsed"),
        sum(when($"ratio".isNull, 1L).otherwise(0L)).as("n_div0"),
        round(sum(coalesce($"ratio", lit(0.0)).cast("decimal(18,6)"))
          .cast("double"), 4).as("sum_ratio"))
      .orderBy($"event_type")
  }

  // q143: calendar-spine gap fill — global zero-filled daily counts per
  // event type (dashboards break on MISSING rows, not wrong ones). The
  // spine is generated from the 1-row min/max bounds (a broadcast
  // sequence — never a scan of the fact table per day), cross-joined
  // with the |types| dimension, then left-joined against the day-level
  // pre-aggregate. Complements q95's per-entity resample+ffill.
  def calendarSpine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir).events
      .select($"event_type", to_date($"ts").as("day"))
    val daily = ev.groupBy($"event_type", $"day").agg(count(lit(1)).as("n"))
    val spine = ev.agg(min($"day").as("lo"), max($"day").as("hi"))
      .select(explode(sequence($"lo", $"hi")).as("day"))
    val types = ev.select($"event_type").distinct()
    broadcast(spine).crossJoin(types)
      .join(daily, Seq("event_type", "day"), "left")
      .select($"day", $"event_type", coalesce($"n", lit(0L)).as("n"))
      .orderBy($"day", $"event_type")
  }

  // q148: bitwise aggregates + exact median — bit_and/bit_or/bit_xor are
  // distributive (partial-mergeable like sum), the membership-mask /
  // checksum shapes; median ≡ percentile 0.5 (interpolating on both
  // engines, round-6 for the interpolation ulp).
  def bitAndMedian(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).events
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        expr("bit_and(event_id)").as("band"),
        expr("bit_or(event_id)").as("bor"),
        expr("bit_xor(event_id)").as("bxor"),
        round(expr("median(value)"), 6).as("median_value"))
      .orderBy($"event_type")
  }

  // q154: concurrent-session sweep line — per day, the peak number of
  // simultaneously open sessions. Events are first REDUCED to sessions
  // (q72's 10-minute session_window semantics), sessions to ±1 boundary
  // events — so the global scan runs over 2·|sessions| rows, orders of
  // magnitude below the fact table. The running concurrency uses
  // Relational.globalRunningSum (range partition + offsets, no
  // single-partition window); the order (ts, delta, user_id) is total —
  // ends sort before starts at the same instant (half-open [start, end)
  // activity), and user_id breaks remaining ties so every row's prefix is
  // engine-independent. Peak-per-day is then a plain keyed aggregate.
  def concurrencySweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sess = Tables(s, dir).events
      .groupBy(session_window($"ts", "10 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .select($"user_id", $"w.start".as("st"), $"w.end".as("en"))
    val bounds = sess.select($"st".as("ts"), lit(1L).as("delta"), $"user_id")
      .unionAll(sess.select($"en".as("ts"), lit(-1L).as("delta"), $"user_id"))
    graft.operators.Relational
      .globalRunningSum(bounds,
        Seq($"ts".asc, $"delta".asc, $"user_id".asc), $"delta", "conc")
      .groupBy(to_date($"ts").as("day"))
      .agg(max($"conc").cast("long").as("max_concurrent"),
        sum(when($"delta" === 1L, 1L).otherwise(0L)).cast("long").as("n_starts"))
      .orderBy($"day")
  }

  // q155: deterministic per-user mode — most frequent event type, ties
  // broken lexicographically. One (user, type) count aggregate feeds both
  // the windowed argmax (rank ≤ 1 compiles to WindowGroupLimit: map-side
  // partial top-1 before the exchange) and the per-user totals; both key
  // on user_id so AQE reuses the exchange. No collect, no global window.
  def userMode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = Tables(s, dir).events
      .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("c"))
    val mode = graft.operators.Relational
      .topKPerGroup(counts, Seq($"user_id"),
        Seq($"c".desc, $"event_type".asc), 1)
      .select($"user_id", $"event_type".as("mode_type"), $"c".as("n_mode"))
    val totals = counts.groupBy($"user_id")
      .agg(count(lit(1)).as("n_types"), sum($"c").cast("long").as("n_events"))
    mode.join(totals, Seq("user_id"))
      .orderBy($"user_id")
  }

  // q158: CUSUM changepoint — per event type, the day where the cumulative
  // deviation of daily counts from the type's mean peaks. The textbook
  // statistic Σ_{i≤k}(cnt_i − mean) is rescaled by n_days to
  // n·S_k − k·T (S_k running count sum, T total, k day index): pure
  // INTEGER arithmetic, so the argmax is bit-exact on any engine — no
  // double accumulation order to worry about. Windows are partitioned by
  // event_type (the day series per type is small by construction:
  // |days| rows); the tie rule is the earliest peak day.
  def cusumChangepoint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables(s, dir).events
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val tot = daily.groupBy($"event_type")
      .agg(sum($"cnt").as("t"), count(lit(1)).as("nd"))
    val scored = daily
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("sk", sum($"cnt").over(w))
      .join(tot, Seq("event_type"))
      .withColumn("dev", abs($"nd" * $"sk" - $"k" * $"t"))
    val mx = scored.groupBy($"event_type")
      .agg(max($"dev").as("max_dev_scaled"), max($"nd").cast("long").as("n_days"))
    val cp = scored.join(mx.select($"event_type", $"max_dev_scaled".as("_m")),
        Seq("event_type"))
      .filter($"dev" === $"_m")
      .groupBy($"event_type").agg(min($"day").as("changepoint_day"))
    mx.join(cp, Seq("event_type"))
      .select($"event_type", $"n_days", $"max_dev_scaled", $"changepoint_day")
      .orderBy($"event_type")
  }

  // q161: gaps-and-islands activity streaks — per user, consecutive-day
  // runs found with the classic anchor trick (day − row_number is constant
  // within a run; both pure integer/date arithmetic, no session state).
  // The window partitions by user, everything else is keyed aggregation —
  // the whole face is two shuffles on user_id at any scale.
  def activityStreaks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ud = Tables(s, dir).events
      .select($"user_id", to_date($"ts").as("day")).distinct()
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val islands = ud
      .withColumn("anchor", date_sub($"day", row_number().over(w)))
      .groupBy($"user_id", $"anchor")
      .agg(count(lit(1)).as("len"), min($"day").as("start_day"))
    islands.groupBy($"user_id")
      .agg(max($"len").cast("long").as("longest_streak"),
        count(lit(1)).as("n_streaks"),
        sum($"len").cast("long").as("active_days"),
        min($"start_day").as("first_day"))
      .orderBy($"user_id")
  }

  // q162: two-sample A/B lift (Welch t-statistic) on purchase values —
  // variant = user_id parity (a deterministic split any engine
  // reproduces). All moments come from decimal-exact Σv and Σv² in ONE
  // conditional-aggregate pass (no per-variant subqueries, no second
  // scan); means, variances and the t-stat are then a fixed chain of
  // IEEE ops on those exact sums, identical on both engines, rounded
  // once at the end.
  def abTtest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = Tables(s, dir).events
      .filter($"event_type" === "purchase")
      .select(($"user_id" % 2).cast("int").as("variant"),
        $"value".cast("decimal(18,2)").as("v"))
    val a = p.agg(
      count(when($"variant" === 0, 1)).as("n0"),
      sum(when($"variant" === 0, $"v")).as("s0"),
      sum(when($"variant" === 0, $"v" * $"v")).as("ss0"),
      count(when($"variant" === 1, 1)).as("n1"),
      sum(when($"variant" === 1, $"v")).as("s1"),
      sum(when($"variant" === 1, $"v" * $"v")).as("ss1"))
    val m0 = $"s0".cast("double") / $"n0"
    val m1 = $"s1".cast("double") / $"n1"
    val var0 = ($"ss0".cast("double") - $"s0".cast("double") * $"s0".cast("double") / $"n0") / ($"n0" - 1)
    val var1 = ($"ss1".cast("double") - $"s1".cast("double") * $"s1".cast("double") / $"n1") / ($"n1" - 1)
    a.select(
      $"n0", $"n1",
      round(m0, 6).as("mean0"), round(m1, 6).as("mean1"),
      round(var0, 6).as("var0"), round(var1, 6).as("var1"),
      round((m0 - m1) / sqrt(var0 / $"n0" + var1 / $"n1"), 6).as("t_stat"))
  }

  // q165: view→purchase conversion lag — per user, first view then first
  // purchase strictly after it; lag distribution in exact interpolated
  // percentiles over integer epoch-millis (q119's ms recipe + q38's
  // percentile ≡ quantile_cont parity). Two keyed aggregates and one
  // user-keyed join — no windows over the raw event table.
  def conversionLag(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir).events
      .select($"user_id", $"event_type", unix_millis($"ts").as("ms"))
    val firstView = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ms").as("t_view"))
    val lags = ev.filter($"event_type" === "purchase")
      .join(firstView, Seq("user_id"))
      .filter($"ms" > $"t_view")
      .groupBy($"user_id")
      .agg((min($"ms") - min($"t_view")).as("lag_ms"))
    lags.agg(
      count(lit(1)).as("n_converted"),
      min($"lag_ms").as("min_ms"),
      max($"lag_ms").as("max_ms"),
      round(expr("percentile(lag_ms, 0.5)"), 6).as("p50_ms"),
      round(expr("percentile(lag_ms, 0.9)"), 6).as("p90_ms"))
  }

  // q166: rolling 7-day exact median of daily event counts per type —
  // percentile as a WINDOW aggregate over a ROWS frame (the moving-median
  // smoother). The window partitions by event_type over the |days|-sized
  // pre-aggregate, never the raw events; the interpolated median over
  // integer counts is an exact rational both engines agree on.
  def rollingMedian(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables(s, dir).events
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(-6, Window.currentRow)
    daily
      .select($"event_type", $"day", $"cnt",
        count(lit(1)).over(w).cast("long").as("n_window"),
        round(expr("percentile(cnt, 0.5)")
          .over(w), 6).as("med7"))
      .orderBy($"event_type", $"day")
  }

  // q168: URL parsing battery — parse_url (HOST / PATH / QUERY / one
  // query parameter) over URLs assembled from event fields. The oracle
  // re-derives each component from the same fields directly, so the face
  // pins Spark's parser against the construction rule rather than a
  // second parser. Pure per-row projection + one keyed aggregate.
  def urlParse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val url = concat(lit("https://shop.example.com/"), $"event_type",
      lit("/item"), ($"event_id" % 100).cast("string"),
      lit("?uid="), $"user_id".cast("string"), lit("&ref=email"))
    Tables(s, dir).events
      .select($"event_type", url.as("url"))
      .select($"event_type",
        parse_url($"url", lit("HOST")).as("host"),
        parse_url($"url", lit("PATH")).as("path"),
        parse_url($"url", lit("QUERY")).as("query"),
        parse_url($"url", lit("QUERY"), lit("uid")).cast("long").as("uid"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(when($"host" === "shop.example.com", 1L).otherwise(0L))
          .cast("long").as("n_host_ok"),
        countDistinct($"path").as("n_paths"),
        sum(when($"query".startsWith("uid="), 1L).otherwise(0L))
          .cast("long").as("n_query_ok"),
        sum($"uid").cast("long").as("sum_uid"))
      .orderBy($"event_type")
  }

  // q176: session-duration log₂ histogram — q72's sessions bucketed by
  // power-of-two duration (the latency-histogram shape that keeps bucket
  // count bounded at any scale). Both engines evaluate the identical
  // floor(log2(·)) on identical doubles, so bucket edges can't diverge.
  def sessionDurationHist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sess = Tables(s, dir).events
      .groupBy(session_window($"ts", "10 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .select((unix_millis($"w.end") - unix_millis($"w.start")).as("dur_ms"))
    sess
      .select($"dur_ms",
        floor(log2($"dur_ms" / 1000.0 + 1)).cast("int").as("bucket"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_sessions"),
        min($"dur_ms").as("min_ms"), max($"dur_ms").as("max_ms"))
      .orderBy($"bucket")
  }

  // q182: bitmap-aggregate distinct counting — Spark's bitmap_construct_agg
  // builds a fixed-size bitmap per group (mergeable, EXACT — the
  // dense-bitmap cousin of HLL for bounded key domains; positions are
  // 1-based, hence the +1 shift); the face pins
  // bitmap_count ≡ count(DISTINCT) on the same column, so the oracle needs
  // no bitmap support. Per-group bitmaps are the at-scale shape for exact
  // distinct over integer keys: partial bitmaps OR-merge map-side.
  def bitmapDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).events
      .select($"event_type", ($"user_id" % 10000 + 1).as("uk"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        expr("bitmap_count(bitmap_construct_agg(bitmap_bit_position(uk)))")
          .as("bitmap_distinct"),
        countDistinct($"uk").as("exact_distinct"))
      .select($"event_type", $"n", $"bitmap_distinct", $"exact_distinct",
        ($"bitmap_distinct" === $"exact_distinct").as("bitmap_exact"))
      .orderBy($"event_type")
  }

  // q183: VARIANT ingestion — parse_json into Spark 4's VARIANT type,
  // typed extraction via variant_get with a cast path. The open-schema
  // answer to q73's fixed MapType: the column stores arbitrary JSON
  // shapes, extraction is late-bound. Oracle extracts the same path with
  // DuckDB's JSON functions.
  def variantProps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).events
      .select($"event_type",
        expr("variant_get(parse_json(props), '$.k', 'int')").as("k"))
      .groupBy($"event_type")
      .agg(count($"k").as("n"), min($"k").as("min_k"), max($"k").as("max_k"),
        sum($"k").cast("long").as("sum_k"),
        countDistinct($"k").as("n_distinct"))
      .orderBy($"event_type")
  }

  // q187: the typed Aggregator surfaced as a SQL function —
  // functions.udaf(LastWinsAggregator) registered and called from SQL
  // text (the remaining leg of the UDF surface: Column API and Dataset
  // API were already gate-covered by q30). Same shuffle profile as
  // max_by: single hash aggregate with map-side partial buffers.
  def udafLastWins(s: SparkSession, dir: String): DataFrame = {
    s.udf.register("last_wins", udaf(graft.operators.LastWinsAggregator))
    Tables(s, dir).events.createOrReplaceTempView("ev_q187")
    s.sql("""SELECT user_id, last_wins(event_id, event_type) AS last_type,
            |  CAST(count(*) AS BIGINT) AS n
            |FROM ev_q187 GROUP BY user_id ORDER BY user_id""".stripMargin)
  }

  // q190: daily bounce rate — share of single-event sessions per day
  // (q72's sessions, keyed day aggregate; the engagement KPI every
  // product dashboard carries). One integer ratio, rounded once.
  def bounceRate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).events
      .groupBy(session_window($"ts", "10 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .groupBy(to_date($"w.start").as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when($"n" === 1, 1L).otherwise(0L)).cast("long").as("n_bounce"))
      .select($"day", $"n_sessions", $"n_bounce",
        round($"n_bounce".cast("double") / $"n_sessions", 6).as("bounce_rate"))
      .orderBy($"day")
  }

  // q202: time-bounded funnel — q77's ordered funnel with a 1-hour
  // conversion window at each step (first view → first later click ≤1h →
  // first later purchase ≤1h). Integer epoch-millis guards; same
  // aggregate+join rounds as q77, nothing per-user is sorted.
  def timedFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir).events
      .select($"user_id", $"event_type", unix_millis($"ts").as("ms"))
    val t1 = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ms").as("t1"))
    val t2 = ev.filter($"event_type" === "click").join(t1, Seq("user_id"))
      .filter($"ms" > $"t1").groupBy($"user_id")
      .agg(min($"ms").as("t2"), min($"t1").as("t1m"))
      .filter($"t2" - $"t1m" <= 3600000L)
    val t3 = ev.filter($"event_type" === "purchase").join(t2, Seq("user_id"))
      .filter($"ms" > $"t2").groupBy($"user_id")
      .agg(min($"ms").as("t3"), min($"t2").as("t2m"))
      .filter($"t3" - $"t2m" <= 3600000L)
    t1.agg(count(lit(1)).as("n")).select(lit("1_view").as("step"), $"n")
      .unionByName(t2.agg(count(lit(1)).as("n"))
        .select(lit("2_click_1h").as("step"), $"n"))
      .unionByName(t3.agg(count(lit(1)).as("n"))
        .select(lit("3_purchase_1h").as("step"), $"n"))
      .orderBy($"step")
  }

  // q205: user-activity distribution — log₂ buckets of per-user event
  // counts (the engagement-shape telemetry behind sampling and capacity
  // decisions). Two keyed aggregates; bucket edges are exact powers of
  // two, so floor(log2) of an integer can't flip cross-engine.
  def activityDistribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).events
      .groupBy($"user_id").agg(count(lit(1)).as("cnt"))
      .groupBy(floor(log2($"cnt")).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n_users"),
        min($"cnt").cast("long").as("min_events"),
        max($"cnt").cast("long").as("max_events"))
      .orderBy($"bucket")
  }

  // q207: run-length structure of event streams — per user, consecutive
  // same-type events collapse to runs (lag-compare + sum, one partitioned
  // window pass); the run/event ratio is the repetitiveness signal.
  def runLengths(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // integer epoch-millis ordering (q119's recipe) so the oracle's
    // tie-breaks match exactly
    val w = Window.partitionBy($"user_id").orderBy(unix_millis($"ts"), $"event_id")
    Tables(s, dir).events
      .select($"user_id", $"event_id", $"event_type",
        when(lag($"event_type", 1).over(w).isNull ||
          lag($"event_type", 1).over(w) =!= $"event_type", 1L)
          .otherwise(0L).as("is_start"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum($"is_start").cast("long").as("n_runs"))
      .select($"user_id", $"n_events", $"n_runs",
        round($"n_runs".cast("double") / $"n_events", 6).as("run_ratio"))
      .orderBy($"user_id")
  }

  // q214: within-session type co-occurrence — per day, sessions that
  // contain a view, a purchase, and both (the intent-to-conversion
  // telescope at session grain rather than q77's user grain). Session
  // flags are conditional sums inside the session aggregate — no second
  // pass over events.
  def sessionCooccurrence(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).events
      .groupBy(session_window($"ts", "10 minutes").as("w"), $"user_id")
      .agg(
        sum(when($"event_type" === "view", 1L).otherwise(0L)).as("nv"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("np"))
      .groupBy(to_date($"w.start").as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when($"nv" > 0, 1L).otherwise(0L)).cast("long").as("with_view"),
        sum(when($"np" > 0, 1L).otherwise(0L)).cast("long").as("with_purchase"),
        sum(when($"nv" > 0 && $"np" > 0, 1L).otherwise(0L)).cast("long")
          .as("with_both"))
      .orderBy($"day")
  }

  // q217: hour-of-day seasonality profile — events per (type, hour)
  // normalized by the type's active-day count (the load-shape telemetry
  // capacity planning reads). Hourly and per-type aggregates join on the
  // tiny type dim.
  def hourlySeasonality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir).events
    val hourly = ev.groupBy($"event_type", hour($"ts").cast("int").as("hr"))
      .agg(count(lit(1)).as("n"))
    val perType = ev.groupBy($"event_type")
      .agg(countDistinct(to_date($"ts")).as("n_days"))
    hourly.join(broadcast(perType), Seq("event_type"))
      .select($"event_type", $"hr", $"n", $"n_days",
        round($"n".cast("double") / $"n_days", 6).as("avg_per_day"))
      .orderBy($"event_type", $"hr")
  }

  // q218: adoption curve — new users per first-seen day, cumulated
  // THROUGH THE NATIVE PrefixScan operator (its second gate face, on a
  // |days|-sized series): one range exchange, two streaming passes.
  def adoptionCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val newPerDay = Tables(s, dir).events
      .groupBy($"user_id").agg(min(to_date($"ts")).as("day"))
      .groupBy($"day").agg(count(lit(1)).as("new_users"))
    graft.plans.PrefixScan
      .runningSum(newPerDay, Seq("day"), $"new_users", "cum_users")
      .select($"day", $"new_users", $"cum_users")
      .orderBy($"day")
  }

  // q224: day-over-day retention Jaccard — |active(d) ∩ active(d+1)| /
  // |active(d) ∪ active(d+1)| per day. Reduce-first: the fact collapses
  // to the distinct user-day table (|users|·|days| max) BEFORE any
  // self-join, so the d/d+1 overlap join runs on the reduced set; union
  // size comes from the two day counts (no second join).
  def retentionJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ud = Tables(s, dir).events
      .select(to_date($"ts").as("day"), $"user_id").distinct()
    val sizes = ud.groupBy($"day").agg(count(lit(1)).as("n"))
    val inter = ud.as("a")
      .join(ud.as("b"),
        date_add(col("a.day"), 1) === col("b.day") &&
          col("a.user_id") === col("b.user_id"))
      .groupBy(col("a.day").as("day")).agg(count(lit(1)).as("n_inter"))
    sizes.as("s1")
      .join(sizes.as("s2"), date_add(col("s1.day"), 1) === col("s2.day"))
      .join(inter, col("s1.day") === inter("day"), "left")
      .select(col("s1.day").as("day"), col("s1.n").as("n_day"),
        col("s2.n").as("n_next"),
        coalesce($"n_inter", lit(0L)).as("n_inter"))
      .withColumn("jaccard", round($"n_inter".cast("double") /
        ($"n_day" + $"n_next" - $"n_inter"), 6))
      .orderBy($"day")
  }

  // q225: trigram event-sequence mining — every 3-consecutive-event-type
  // pattern per user (ordered by ts, event_id — tie-free total order),
  // counted corpus-wide. One (user_id)-partitioned window pass builds the
  // trigrams (lead×2 over the same sort), then a |types|³-bounded count
  // agg; output is the FULL pattern table (≤|types|³ rows at any scale),
  // so no top-k tie hazard exists.
  def trigramSequences(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables(s, dir).events
      .select($"user_id", $"event_type".as("e1"),
        lead($"event_type", 1).over(w).as("e2"),
        lead($"event_type", 2).over(w).as("e3"))
      .filter($"e3".isNotNull)
      .groupBy($"e1", $"e2", $"e3").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"e1", $"e2", $"e3")
  }

  // q232: streaming/batch parity — the gate face that runs the REAL
  // Structured Streaming engine (readStream → event-time tumbling windows
  // → AvailableNow → memory sink) and hash-compares it against the batch
  // SQL oracle. Complete output mode makes the final state independent of
  // file→micro-batch chunking, so the result is bit-deterministic. The
  // memory sink holds |days × types| rows (the AGGREGATE, never the
  // stream); production sinks are the foreachBatch/parquet paths proven
  // in ST1/StreamingSpec.
  def streamingParity(s: SparkSession, dir: String): DataFrame =
    graft.streaming.ScratchCheckpoints.lean(s) {
    import s.implicits._
    Tables(s, dir).events // side effect: sets the nanosAsLong conf
    // the stream must read the RAW parquet schema (ts is TIMESTAMP(NANOS),
    // surfaced as long under nanosAsLong) and apply Tables' ns→µs
    // truncation itself
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
    val nm = "q232_mem_" + java.util.UUID.randomUUID.toString.replace("-", "")
    // the file stream source wants a DIRECTORY: stream the sf dir with a
    // glob filter so only the events table's file enters the stream
    val raw = s.readStream.schema(rawSchema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    val q = (rawSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    })
      .groupBy(window($"ts", "1 day").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"w.start".cast("date").as("day"), $"event_type", $"n")
      .writeStream.format("memory").queryName(nm).outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(nm).orderBy($"day", $"event_type")
  }

  // q267: streaming exact-dedup parity — the at-least-once ingestion
  // contract through the REAL streaming engine: the event stream is
  // self-unioned (every event arrives twice, the adversarial redelivery)
  // and dropDuplicates state keeps exactly one row per event_id; the
  // batch DuckDB oracle is plain DISTINCT. Append mode with NO watermark:
  // state is never evicted, so the emitted set is chunk-independent —
  // deterministic under any micro-batching. The stream is projected to
  // (event_id, event_type) BEFORE dedup, so both the state store and the
  // memory sink hold two skinny columns per distinct id, never the
  // stream's payload (the watermarked/TTL variant for unbounded keys is
  // EventStreams' dropDuplicatesWithinWatermark, spec-proven).
  def streamingDedupParity(s: SparkSession, dir: String): DataFrame =
    graft.streaming.ScratchCheckpoints.lean(s) {
    import s.implicits._
    Tables(s, dir).events // side effect: sets the nanosAsLong conf
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
    val nm = "q267_mem_" + java.util.UUID.randomUUID.toString.replace("-", "")
    def src = s.readStream.schema(rawSchema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .select($"event_id", $"event_type")
    val q = src.union(src).dropDuplicates("event_id")
      .writeStream.format("memory").queryName(nm).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(nm).groupBy($"event_type").agg(count(lit(1)).as("n_events"))
      .orderBy($"event_type")
  }

  // q333: exactly-once streaming ingestion INTO the versioned table —
  // the lakehouse sink pattern that closes the loop between the
  // streaming engine and the manifest table: each micro-batch commits
  // as version base+batchId+1, so the batch→version mapping is the
  // idempotence ledger (no tmp-swap, no sidecar batch file — the
  // no-replace manifest CAS is the exactly-once mechanism, and every
  // batch becomes a time-travelable snapshot feeding the q332 change
  // feed). The face runs the stream, then replays it under a FRESH
  // checkpoint — the adversarial redelivery where every batch id
  // restarts at 0 — and requires the table version unmoved; the hashed
  // output is the table content, which must equal the plain batch
  // aggregate (one misrouted/duplicated batch breaks it).
  def streamManifestSink(s: SparkSession, dir: String): DataFrame =
    graft.streaming.ScratchCheckpoints.lean(s) {
    import s.implicits._
    import graft.sources.ManifestTable
    import graft.streaming.EventStreams
    val out = Scratch.dir("q333", dir)
    // stage the events as THREE source files so AvailableNow +
    // maxFilesPerTrigger=1 drives three distinct micro-batches — the
    // batch→version mapping is then exercised across a real sequence
    // (v1, v2, v3), not a single batch
    val events = Tables(s, dir).events
    val srcDir = s"$out/src"
    events.filter($"event_id" % 3 === 0).coalesce(1).write.parquet(s"$srcDir/p0")
    events.filter($"event_id" % 3 === 1).coalesce(1).write.parquet(s"$srcDir/p1")
    events.filter($"event_id" % 3 === 2).coalesce(1).write.parquet(s"$srcDir/p2")
    val rawSchema = s.read.parquet(s"$srcDir/p0").schema
    def src = s.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .option("recursiveFileLookup", "true").parquet(srcDir)
      .select($"event_id", $"event_type",
        round($"value" * 100).cast("long").as("cents"))
    val tbl = s"$out/tbl"
    EventStreams.manifestAppendSink(src, tbl, base = 0, s"$out/_ck1")
      .awaitTermination()
    val v1 = ManifestTable.currentVersion(tbl)
    require(v1 == 3,
      s"q333: three micro-batches must land as versions 1..3, got v$v1")
    EventStreams.manifestAppendSink(src, tbl, base = 0, s"$out/_ck2")
      .awaitTermination()
    require(ManifestTable.currentVersion(tbl) == v1,
      "q333: a full replay of ALL batches must commit NOTHING (exactly-once)")
    ManifestTable.read(s, tbl)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), sum($"cents").as("total_cents"))
      .orderBy($"event_type")
  }

  // q344: STREAMING SOURCE over the versioned table — the read half that
  // closes the lakehouse streaming loop (q333 is the write half): offsets
  // ARE manifest versions, so one commit = one micro-batch (pinned via
  // recentProgress), planning each batch is the manifest DIFF (O(delta),
  // the q301 contract under a checkpoint), and a checkpointed resume
  // reads ONLY commits made after the first run (pinned: the resumed
  // run's input rows = the 4th slice exactly). The streamed rows feed a
  // stateful aggregate whose state lives in the checkpoint across the
  // resume; the final table must hash-equal the batch aggregate over ALL
  // events — one duplicated or dropped micro-batch breaks it. This is
  // Delta-CDF-style table tailing: at 100 TB the warehouse table itself
  // is the replayable stream, not a broker retention window.
  def streamManifestSource(s: SparkSession, dir: String): DataFrame =
    graft.streaming.ScratchCheckpoints.lean(s) {
    import s.implicits._
    import graft.sources.ManifestTable
    import org.apache.spark.sql.types.StructType
    val out = Scratch.dir("q344", dir)
    val events = Tables(s, dir).events
      .select($"event_id", $"event_type", round($"value" * 100).cast("long").as("cents"))
    val tbl = s"$out/tbl"
    ManifestTable.commit(events.filter($"event_id" % 4 === 0), tbl, append = false)
    ManifestTable.commit(events.filter($"event_id" % 4 === 1), tbl, append = true)
    ManifestTable.commit(events.filter($"event_id" % 4 === 2), tbl, append = true)
    val schema = new StructType().add("event_id", "long")
      .add("event_type", "string").add("cents", "long")
    val nm = "q344_mem_" + java.util.UUID.randomUUID.toString.replace("-", "")
    def run() = {
      val q = s.readStream.format("graft.sources.v2.ManifestStreamSource")
        .schema(schema).option("path", tbl).load()
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"), sum($"cents").as("total_cents"))
        .writeStream.format("memory").queryName(nm).outputMode("complete")
        .option("checkpointLocation", s"$out/_cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(); q
    }
    val q1 = run()
    val batches1 = q1.recentProgress.count(_.numInputRows > 0)
    require(batches1 == 3,
      s"q344: three commits must stream as three micro-batches, got $batches1")
    // commit a 4th slice AFTER the first run; the checkpointed resume
    // must read exactly that delta, never re-reading v1..v3
    val tail = events.filter($"event_id" % 4 === 3)
    val nTail = tail.count()
    ManifestTable.commit(tail, tbl, append = true)
    val q2 = run()
    val resumedRows = q2.recentProgress.filter(_.numInputRows > 0)
      .map(_.numInputRows).sum
    require(resumedRows == nTail,
      s"q344: resume must read only the new commit ($resumedRows vs $nTail rows)")
    s.table(nm).orderBy($"event_type")
  }

  // q402: STREAMING ENRICHMENT AGAINST A LIVE VERSIONED DIM — the gap
  // between q242 (stream-static with a FIXED dim) and production: the
  // dimension table keeps moving while the fact stream runs, and each
  // scheduled micro-batch run must enrich against the dim AS OF that
  // run — the slowly-changing-dimension refresh pattern every warehouse
  // streaming pipeline needs. Facts live in a versioned manifest table
  // streamed via q344's one-commit-per-micro-batch source; enrichment
  // happens in foreachBatch, which re-resolves the dim's CURRENT
  // version per run (a broadcast-sized read — at 100 TB the dim read is
  // manifest planning + a small scan, the fact side never re-reads
  // history). Pinned: run 1 drains exactly the first fact commit joined
  // against dim v1; the dim is then OVERWRITTEN (v2 re-labels every
  // third customer) and a second fact commit lands; the checkpointed
  // run 2 reads ONLY the new fact commit (numInputRows pinned) and its
  // rows carry dim-v2 labels — so the final enriched table mixes
  // attributions by INGEST TIME, which is exactly what the oracle
  // recomputes (fact slice 1 ⋈ dim v1 ∪ fact slice 2 ⋈ dim v2). A
  // pipeline that cached the dim across runs, or re-processed old
  // batches under the new dim, moves the gate hash.
  def streamDimRefresh(s: SparkSession, dir: String): DataFrame =
    graft.streaming.ScratchCheckpoints.lean(s) {
    import s.implicits._
    import graft.sources.ManifestTable
    import org.apache.spark.sql.types.StructType
    val out = Scratch.dir("q402", dir)
    val orders = Tables(s, dir).orders
      .select($"o_custkey".cast("long").as("ckey"),
        round($"o_totalprice" * 100).cast("long").as("cents"),
        year($"o_orderdate").as("y"))
    val dimV1 = Tables(s, dir).customer
      .select($"c_custkey".cast("long").as("ckey"), $"c_mktsegment".as("seg"))
    val (facts, dim, enriched) = (s"$out/facts", s"$out/dim", s"$out/enriched")
    ManifestTable.commit(dimV1, dim, append = false)                       // dim v1
    ManifestTable.commit(orders.filter($"y" <= 1996).drop("y"),
      facts, append = false)                                               // facts v1
    val schema = new StructType().add("ckey", "long").add("cents", "long")
    def run() = {
      val q = s.readStream.format("graft.sources.v2.ManifestStreamSource")
        .schema(schema).option("path", facts).load()
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // the dim re-resolves to its CURRENT version at every run
          val d = ManifestTable.read(s, dim)
          batch.join(broadcast(d), Seq("ckey"))
            .select(col("ckey"), col("seg"), col("cents"))
            .write.mode("append").parquet(enriched)
        }
        .option("checkpointLocation", s"$out/_cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(); q
    }
    val q1 = run()
    require(q1.recentProgress.count(_.numInputRows > 0) == 1,
      "q402: run 1 must drain exactly the first fact commit")
    // the dim MOVES: every third customer re-labeled (overwrite = dim v2)
    ManifestTable.commit(
      dimV1.select($"ckey",
        when($"ckey" % 3 === 0, concat($"seg", lit("_X")))
          .otherwise($"seg").as("seg")),
      dim, append = false)                                                 // dim v2
    val slice2 = orders.filter($"y" === 1997).drop("y")
    val n2 = slice2.count()
    ManifestTable.commit(slice2, facts, append = true)                     // facts v2
    val q2 = run()
    val resumed = q2.recentProgress.filter(_.numInputRows > 0)
      .map(_.numInputRows).sum
    require(resumed == n2,
      s"q402: run 2 must read only the new fact commit ($resumed vs $n2)")
    val res = s.read.parquet(enriched)
    require(res.filter($"seg".endsWith("_X")).count() > 0,
      "q402: run-2 rows must carry dim-v2 labels")
    res.groupBy($"seg")
      .agg(count(lit(1)).as("n_orders"), sum($"cents").as("total_cents"))
      .orderBy($"seg")
  }

  // q272: stream-stream join parity — the real streaming engine joining
  // TWO unbounded sides (view events ⋈ purchase events per user within
  // 1 hour), the capability stream-static enrichment (q242) can't
  // express. Inner join, append mode, NO watermark: both state stores
  // retain everything, so the emitted pair set is exactly the batch join
  // under any micro-batching — the oracle is the plain SQL join. The
  // production variant bounds state with watermarks + time-range
  // conditions (spec'd in EventStreams); the parity face pins the join
  // SEMANTICS in the gate. Both sides project to 3 skinny columns before
  // the state store.
  def streamStreamJoinParity(s: SparkSession, dir: String): DataFrame =
    graft.streaming.ScratchCheckpoints.lean(s) {
    import s.implicits._
    Tables(s, dir).events // side effect: sets the nanosAsLong conf
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
    val nm = "q272_mem_" + java.util.UUID.randomUUID.toString.replace("-", "")
    def src = {
      val raw = s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      rawSchema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ => raw
      }
    }
    val views = src.filter($"event_type" === "view")
      .select($"user_id", $"ts".as("vts"), $"event_id".as("vid"))
    val purchases = src.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("pts"), $"event_id".as("pid"))
    val q = views.join(purchases,
        $"user_id" === $"p_user" && $"pts" >= $"vts" &&
          $"pts" <= $"vts" + expr("INTERVAL 1 HOUR"))
      .select($"user_id", $"vid", $"pid",
        (unix_micros($"pts") - unix_micros($"vts")).as("lag_us"))
      .writeStream.format("memory").queryName(nm).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(nm).groupBy(($"user_id" % 10).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct($"vid").as("n_views"),
        countDistinct($"pid").as("n_purchases"),
        sum($"lag_us").as("lag_us_sum"))
      .orderBy($"bucket")
  }

  // q350: the MEDALLION LOOP end-to-end — bronze manifest table → CDF
  // streaming source (q344's one-commit-one-batch offsets) → stateless
  // transform → EXACTLY-ONCE manifest sink (q333's batch→version CAS
  // ledger) → silver manifest table. Every hop is incremental: a bronze
  // commit plans as one manifest diff, flows through one micro-batch,
  // and lands as exactly one time-travelable silver version — at 100 TB
  // the nightly delta costs O(delta) in EVERY stage, and yesterday's
  // petabytes are never re-listed, re-read, or re-written. The requires
  // pin the whole contract: 3 bronze commits → silver v3; two more
  // bronze commits + a checkpointed resume → silver v5 with the resumed
  // batches reading ONLY the delta; a full REPLAY under a fresh
  // checkpoint commits NOTHING (every batch recognizes its own prior
  // version via the source-tag ledger); and the silver table must
  // hash-equal the oracle's single-shot batch recompute over all events
  // — one duplicated, dropped, or cross-wired micro-batch breaks it.
  def medallionPipeline(s: SparkSession, dir: String): DataFrame =
    graft.streaming.ScratchCheckpoints.lean(s) {
    import s.implicits._
    import graft.sources.ManifestTable
    import org.apache.spark.sql.types.StructType
    val out = Scratch.dir("q350", dir)
    val events = Tables(s, dir).events
      .select($"event_id", $"user_id", $"event_type",
        round($"value" * 100).cast("long").as("cents"))
    val bronze = s"$out/bronze"
    val silver = s"$out/silver"
    def commitSlice(i: Long): Unit =
      ManifestTable.commit(events.filter($"event_id" % 5 === i), bronze,
        append = i > 0): Unit
    (0L to 2L).foreach(commitSlice)
    val bronzeSchema = new StructType().add("event_id", "long")
      .add("user_id", "long").add("event_type", "string").add("cents", "long")
    def run(ckpt: String) = {
      val transformed = s.readStream.format("graft.sources.v2.ManifestStreamSource")
        .schema(bronzeSchema).option("path", bronze).load()
        .filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"cents")
      val q = graft.streaming.EventStreams.manifestAppendSink(
        transformed, silver, base = 0, checkpointDir = ckpt)
      q.awaitTermination(); q
    }
    run(s"$out/_cp")
    require(ManifestTable.currentVersion(silver) == 3,
      "q350: three bronze commits must land as silver v1..v3")
    (3L to 4L).foreach(commitSlice)
    val q2 = run(s"$out/_cp")
    require(ManifestTable.currentVersion(silver) == 5,
      "q350: the checkpointed resume must append silver v4..v5 only")
    val resumedRows = q2.recentProgress.filter(_.numInputRows > 0)
      .map(_.numInputRows).sum
    val tailRows = events.filter($"event_id" % 5 >= 3).count()
    require(resumedRows == tailRows,
      s"q350: resume must stream only the bronze delta ($resumedRows vs $tailRows)")
    // full replay under a FRESH checkpoint: every batch re-delivers, every
    // commit is recognized via the version ledger, silver stays at v5
    run(s"$out/_cp_replay")
    require(ManifestTable.currentVersion(silver) == 5,
      "q350: a fresh-checkpoint replay must commit nothing (exactly-once)")
    ManifestTable.read(s, silver)
      .groupBy(($"user_id" % 50).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_purchases"), sum($"cents").as("total_cents"))
      .orderBy($"bucket")
  }

  // q274: OHLC bars — per-hour candles over purchase events: open/close
  // picked by event time via min_by/max_by on the µs timestamp (globally
  // unique in this feed; a production stream appends a sequence-number
  // tiebreak), high/low/volume in exact cents. ONE hash aggregate with
  // map-side partials; output is |hours|-bounded however large the log.
  def ohlcBars(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).events
      .filter($"event_type" === "purchase")
      .select(date_trunc("hour", $"ts").as("bar"), $"ts",
        round($"value" * 100).cast("long").as("cents"))
      .groupBy($"bar")
      .agg(min_by($"cents", $"ts").as("open"),
        max_by($"cents", $"ts").as("close"),
        max($"cents").as("high"), min($"cents").as("low"),
        count(lit(1)).as("n_trades"), sum($"cents").as("vol_cents"))
      .orderBy($"bar")
  }

  // q275: salted two-stage aggregation — the skew-mitigation rewrite for a
  // hot GROUPING key: stage 1 aggregates (key, salt) partials so one hot
  // key fans out over 16 tasks; stage 2 merges partials by key. Sound
  // because every carried statistic is algebraic (count/sum/min/max merge
  // associatively) — the face hash-proves the rewrite ≡ the plain GROUP
  // BY. AQE skew handling covers JOINS only; a skewed aggregation key at
  // 100 TB needs exactly this manual salt.
  def saltedAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).events
      .select($"event_type", pmod($"event_id", lit(16)).as("_salt"),
        round($"value" * 100).cast("long").as("cents"))
      .groupBy($"event_type", $"_salt")
      .agg(count(lit(1)).as("n"), sum($"cents").as("s"),
        min($"cents").as("mn"), max($"cents").as("mx"))
      .groupBy($"event_type")
      .agg(sum($"n").as("n_events"), sum($"s").as("total_cents"),
        min($"mn").as("min_cents"), max($"mx").as("max_cents"))
      .select($"event_type", $"n_events", $"total_cents", $"min_cents",
        $"max_cents",
        round($"total_cents".cast("double") / $"n_events", 6).as("avg_cents"))
      .orderBy($"event_type")
  }

  // q276: linear-interpolation resampling — q95 forward-fills; this
  // interpolates each hourly grid point between its bracketing
  // observations, the other half of time-series regularization. Real and
  // grid points union into ONE ordered window pass per user: the
  // last-real-at-or-before / first-real-at-or-after observations ride
  // (t, v) structs. The interpolation arithmetic takes exact integer
  // inputs (cents, µs) through single correctly-rounded IEEE ops in
  // identical order — bit-equal across engines — and the per-user sums are
  // fixed-scale longs, so the aggregate is exact.
  def interpolateGrid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hourUs = 3600000000L
    val pts = Tables(s, dir).events
      .filter($"user_id" % 10 === 0 && $"event_type" === "purchase")
      .select($"user_id", unix_micros($"ts").as("tus"),
        round($"value" * 100).cast("long").as("cents"))
    val grid = pts.groupBy($"user_id")
      .agg(min($"tus").as("lo"), max($"tus").as("hi"))
      .select($"user_id",
        ($"lo" - pmod($"lo", lit(hourUs)) + hourUs).as("start"), $"hi")
      .filter($"start" <= $"hi")
      .select($"user_id", explode(sequence($"start", $"hi", lit(hourUs))).as("tus"))
    val u = pts.select($"user_id", $"tus", $"cents", lit(1).as("is_real"))
      .unionByName(grid.select($"user_id", $"tus",
        lit(null).cast("long").as("cents"), lit(0).as("is_real")))
    val ord = Window.partitionBy($"user_id").orderBy($"tus", $"is_real")
    val real = when($"is_real" === 1, struct($"tus".as("t"), $"cents".as("v")))
    val filled = u
      .withColumn("p", last(real, ignoreNulls = true)
        .over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("nx", first(real, ignoreNulls = true)
        .over(ord.rowsBetween(0, Window.unboundedFollowing)))
      .filter($"is_real" === 0 && $"p".isNotNull && $"nx".isNotNull)
    val interp = $"p.v".cast("double") +
      ($"nx.v" - $"p.v").cast("double") * ($"tus" - $"p.t").cast("double") /
        ($"nx.t" - $"p.t").cast("double")
    filled.groupBy($"user_id")
      .agg(count(lit(1)).as("n_grid"),
        sum(round(interp * 10000).cast("long")).as("interp_sum_e4"))
      .orderBy($"user_id")
  }

  // q277: session path mining — the first three event types of each
  // 30-minute-gap session concatenated into a path signature
  // ("view>click>purchase"), counted across all sessions. Sessionization
  // is the standard gaps-and-islands running sum (one ordered window per
  // user); first-3 extraction is three conditional aggregates keyed on
  // row_number ≤ 3 — no collect_list ordering hazard anywhere. Top 20 by
  // (count desc, path) — a total order, so the cut is deterministic.
  def sessionPaths(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wu = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    val gapUs = 1800000000L
    val e = Tables(s, dir).events
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("tus"))
      .withColumn("new_sess",
        when(lag($"tus", 1).over(wu).isNull ||
          $"tus" - lag($"tus", 1).over(wu) > gapUs, 1).otherwise(0))
      .withColumn("sess",
        sum($"new_sess").over(wu.rowsBetween(Window.unboundedPreceding, 0)))
    val ws = Window.partitionBy($"user_id", $"sess").orderBy($"tus", $"event_id")
    e.withColumn("rn", row_number().over(ws))
      .filter($"rn" <= 3)
      .groupBy($"user_id", $"sess")
      .agg(concat_ws(">",
        max(when($"rn" === 1, $"event_type")),
        max(when($"rn" === 2, $"event_type")),
        max(when($"rn" === 3, $"event_type"))).as("path"))
      .groupBy($"path").agg(count(lit(1)).as("n_sessions"))
      .orderBy($"n_sessions".desc, $"path")
      .limit(20)
  }

  // q279: exact Pearson correlation (value cents × hour-of-day, per event
  // type) — the five sufficient statistics are exact integer sums carried
  // in DECIMAL(38,0) (≡ DuckDB HUGEINT), so the numerator and both
  // variance terms are EXACT integers; only the final sqrt/divide touch
  // floating point (correctly-rounded IEEE ops on identical inputs),
  // rounded to 6. One scan + a 6-number partial per group is the 100 TB
  // spelling of correlation over any column pair.
  def pearsonCorr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = "decimal(38,0)"
    Tables(s, dir).events
      .select($"event_type", round($"value" * 100).cast("long").as("x"),
        hour($"ts").cast("long").as("y"))
      .groupBy($"event_type")
      .agg(count(lit(1)).cast(d38).as("n"),
        sum($"x").cast(d38).as("sx"), sum($"y").cast(d38).as("sy"),
        sum(($"x" * $"y").cast(d38)).as("sxy"),
        sum(($"x" * $"x").cast(d38)).as("sx2"),
        sum(($"y" * $"y").cast(d38)).as("sy2"))
      .select($"event_type", $"n".cast("long").as("n_events"),
        round(($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          (sqrt(($"n" * $"sx2" - $"sx" * $"sx").cast("double")) *
            sqrt(($"n" * $"sy2" - $"sy" * $"sy").cast("double"))), 6).as("corr"))
      .orderBy($"event_type")
  }

  // q286: exponentially-decayed engagement score — recency-weighted spend
  // with decay ½ per step over each user's 20 most recent purchases.
  // EWMA is usually a sequential recurrence (unpartitionable as written);
  // restated as Σ vᵢ·2^(20−rankᵢ) it becomes ONE window rank + ONE hash
  // aggregate — and because the weights are powers of two on integer
  // cents, the scaled score is an EXACT integer (no float accumulation
  // anywhere; 2^19·max_cents ≈ 2.6e13 rides comfortably in a long). The
  // 20-term truncation is what bounds state at 100 TB — the tail beyond
  // 20 contributes < 2^-20 of the score, below the integer's own
  // resolution. Engines agree on 2^k exactly (power() is exact on
  // power-of-two results ≤ 2^52).
  def decayScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    Tables(s, dir).events
      .filter($"event_type" === "purchase" && $"user_id" % 7 === 0)
      .select($"user_id", $"ts", $"event_id",
        round($"value" * 100).cast("long").as("cents"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 20)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_used"),
        sum($"cents" * pow(lit(2), lit(20) - $"rn").cast("long")).as("score_x2e19"))
      .orderBy($"user_id")
  }

  // q290: Wilson score intervals per experiment arm — the A/B readout
  // (q162 tests means; this bounds RATES): deterministic md5 arm
  // assignment, per-arm user conversion to 'purchase', and the Wilson
  // 95% interval — the interval that stays inside [0,1] and behaves at
  // small n where the normal approximation fails. Inputs are exact
  // integers; the closed-form interval is single correctly-rounded IEEE
  // ops in an identical spelling on both engines (sqrt is IEEE-exact),
  // so the bounds agree bitwise before round(6). One scan, two
  // aggregates, no shuffle beyond |users|.
  def wilsonIntervals(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perUser = Tables(s, dir).events
      .groupBy($"user_id")
      .agg(max(when($"event_type" === "purchase", 1L).otherwise(0L)).as("conv"))
      .select(
        (conv(substring(md5($"user_id".cast("string").cast("binary")), 1, 6), 16, 10)
          .cast("long") % 2).cast("int").as("arm"), $"conv")
    val z = lit(1.96)
    perUser.groupBy($"arm")
      .agg(count(lit(1)).as("n_users"), sum($"conv").as("n_conv"))
      .select($"arm", $"n_users", $"n_conv",
        round($"n_conv".cast("double") / $"n_users", 6).as("rate"),
        round((($"n_conv".cast("double") / $"n_users" + z * z / (lit(2) * $"n_users")) -
          z * sqrt(($"n_conv".cast("double") / $"n_users") *
            (lit(1) - $"n_conv".cast("double") / $"n_users") / $"n_users" +
            z * z / (lit(4) * $"n_users" * $"n_users"))) /
          (lit(1) + z * z / $"n_users"), 6).as("wilson_lo"),
        round((($"n_conv".cast("double") / $"n_users" + z * z / (lit(2) * $"n_users")) +
          z * sqrt(($"n_conv".cast("double") / $"n_users") *
            (lit(1) - $"n_conv".cast("double") / $"n_users") / $"n_users" +
            z * z / (lit(4) * $"n_users" * $"n_users"))) /
          (lit(1) + z * z / $"n_users"), 6).as("wilson_hi"))
      .orderBy($"arm")
  }

  // q292: incremental sessionization — the daily-batch answer to "you
  // cannot re-window all history every night at 100 TB". Stage 1
  // sessionizes each (user, DAY) independently — the shape of a daily
  // partition-local job that never touches other days. Stage 2 runs the
  // SAME gaps-and-islands merge over the per-day session SUMMARIES
  // (|users|·|days| rows, not events): adjacent summaries merge iff the
  // boundary gap ≤ 30 min, which stitches midnight-crossing sessions —
  // including multi-day chains, because interval merging under a gap
  // threshold is associative on ordered summaries. The face hash-proves
  // the two-stage result ≡ GLOBAL sessionization (the oracle), i.e. the
  // incremental recompute is exact, not an approximation.
  def incrementalSessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val gapUs = 1800000000L
    val dayUs = 86400000000L
    val e = Tables(s, dir).events
      .select($"user_id", expr("unix_micros(ts)").as("tus"), $"event_id")
      .withColumn("day", expr(s"tus div $dayUs"))
    // stage 1: per-(user, day) sessionization — the daily job
    val wd = Window.partitionBy($"user_id", $"day").orderBy($"tus", $"event_id")
    val daily = e
      .withColumn("ns", when(lag($"tus", 1).over(wd).isNull ||
        $"tus" - lag($"tus", 1).over(wd) > gapUs, 1).otherwise(0))
      .withColumn("sess", sum($"ns").over(wd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"day", $"sess")
      .agg(min($"tus").as("start_us"), max($"tus").as("end_us"),
        count(lit(1)).as("n"))
    // stage 2: stitch over summaries only — |users|·|days| rows
    val ws = Window.partitionBy($"user_id").orderBy($"start_us")
    daily
      .withColumn("merge_ns", when(lag($"end_us", 1).over(ws).isNull ||
        $"start_us" - lag($"end_us", 1).over(ws) > gapUs, 1).otherwise(0))
      .withColumn("g", sum($"merge_ns").over(ws.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"g")
      .agg(sum($"n").as("n"), (max($"end_us") - min($"start_us")).as("dur"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_sessions"), sum($"n").as("n_events"),
        sum($"dur").as("sum_dur_us"), max($"dur").as("max_dur_us"))
      .orderBy($"user_id")
  }

  // q295: time-decayed multi-touch attribution — each purchase credits
  // the channels (event types) of its user's preceding 8 touches with
  // weights 2^-(recency rank): the multi-touch model between last-touch
  // (all credit to rank 1) and linear (uniform). Power-of-two weights on
  // a bounded window make every credit an EXACT integer (q286's trick) —
  // scaled by 2^8 so rank 1 earns 128, rank 8 earns 1 — and the
  // per-channel shares are integer ratios rounded once. One ordered
  // window per user + one hash aggregate; the 8-touch bound is what
  // keeps per-purchase state O(1) at any history length.
  def decayAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    val e = Tables(s, dir).events
      .select($"user_id", $"event_type", $"event_id",
        expr("unix_micros(ts)").as("tus"))
    // purchases-remaining-from-here partitions each user's history into
    // attribution groups: all rows sharing (user, p_after) precede the
    // SAME next purchase, and that purchase closes its own group — so
    // earlier purchases never act as touches, with no next-purchase join.
    val g = e
      .withColumn("p_after",
        sum(when($"event_type" === "purchase", 1L).otherwise(0L))
          .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .filter($"p_after" >= 1 && $"event_type" =!= "purchase")
      .withColumn("rank_back", row_number().over(
        Window.partitionBy($"user_id", $"p_after")
          .orderBy($"tus".desc, $"event_id".desc)))
      .filter($"rank_back" <= 8)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_touches"),
        sum(pow(lit(2), lit(8) - $"rank_back").cast("long")).as("credit"))
    val tot = g.agg(sum($"credit").as("t"))
    g.crossJoin(broadcast(tot))
      .select($"event_type", $"n_touches", $"credit",
        round($"credit".cast("double") / $"t", 6).as("share"))
      .orderBy($"event_type")
  }

  // q293: rolling 14-day regression slope — trend detection as a WINDOW
  // over the reduced (type, day) revenue table: the five co-moment sums
  // ride one 14-row frame each, and the slope closed form
  // (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) is evaluated on EXACT integer sums —
  // the denominator is a catastrophic-cancellation trap in doubles
  // (7e10 − 7e10 ≈ 1e3) that integer arithmetic sidesteps entirely; only
  // the final division touches floating point. Zero-filled day spine so
  // a quiet day is a real y=0 observation, not a silently shortened
  // frame. |types|·|days| rows: the raw log never enters a window.
  def rollingSlope(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dayUs = 86400000000L
    val ev = Tables(s, dir).events
      .filter($"event_type" === "purchase")
      .select($"event_type", expr(s"unix_micros(ts) div $dayUs").as("d"),
        round($"value" * 100).cast("long").as("cents"))
    val byDay = ev.groupBy($"event_type", $"d").agg(sum($"cents").as("y"))
    val span = ev.agg(min($"d").as("d0"), max($"d").as("d1"))
    val grid = ev.select($"event_type").distinct()
      .crossJoin(broadcast(span))
      .select($"event_type", explode(sequence($"d0", $"d1")).as("d"), $"d0")
    val filled = grid.join(byDay, Seq("event_type", "d"), "left")
      .select($"event_type", ($"d" - $"d0").as("x"), coalesce($"y", lit(0L)).as("y"))
    val f = Window.partitionBy($"event_type").orderBy($"x").rowsBetween(-13, 0)
    filled
      .select($"event_type", $"x", count(lit(1)).over(f).as("n"),
        sum($"x").over(f).as("sx"), sum($"y").over(f).as("sy"),
        sum($"x" * $"y").over(f).as("sxy"), sum($"x" * $"x").over(f).as("sx2"))
      .filter($"n" === 14)
      .select($"event_type", $"x".as("day_idx"),
        round(($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          ($"n" * $"sx2" - $"sx" * $"sx").cast("double"), 6).as("slope_cents_per_day"))
      .orderBy($"event_type", $"day_idx")
  }

  // q297: cumulative distinct-user curve — the growth dashboard query
  // that naively needs COUNT(DISTINCT) over an ever-growing window (a
  // full rescan per day). Reduce-first makes it two tiny steps: each
  // user collapses to a FIRST-SEEN day (one hash aggregate — the only
  // pass over the raw log), daily new-user counts then flow through the
  // distributed prefix-scan (range partition + broadcast offsets), so
  // cumulative uniques at day d = running Σ of new users. |days| output
  // rows; the scan family (q173/q218) does the accumulation without a
  // single-partition window.
  def cumulativeUniques(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dayUs = 86400000000L
    val firstSeen = Tables(s, dir).events
      .select($"user_id", expr(s"unix_micros(ts) div $dayUs").as("d"))
      .groupBy($"user_id").agg(min($"d").as("f"))
    val daily = firstSeen.groupBy($"f".as("d")).agg(count(lit(1)).as("n_new"))
    Relational.globalRunningSum(daily, Seq($"d"), $"n_new", "cum_users")
      .select($"d".as("day"), $"n_new", $"cum_users")
      .orderBy($"day")
  }

  // q309: HLL set algebra — audience overlap WITHOUT a join: the
  // viewers∩purchasers estimate via inclusion-exclusion over three
  // mergeable sketches (|A| + |B| − |A∪B|). At 100 TB this is two scans'
  // worth of sketch partials and zero shuffled user ids, vs an exact
  // distinct-join over both audiences; the face keeps the sketch honest
  // by computing the EXACT overlap alongside and pinning the estimates
  // inside their bounds (intersection error compounds all three sketch
  // errors — hence the wider 15% gate). Output is exact integers + the
  // bound booleans, so the oracle stays engine-expressible.
  def hllIntersection(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir).events
    val a = ev.filter($"event_type" === "view")
      .agg(expr("hll_sketch_agg(user_id)").as("ska"))
    val b = ev.filter($"event_type" === "purchase")
      .agg(expr("hll_sketch_agg(user_id)").as("skb"))
    val est = a.crossJoin(b).select(
      expr("hll_sketch_estimate(ska)").as("est_a"),
      expr("hll_sketch_estimate(skb)").as("est_b"),
      expr("hll_sketch_estimate(hll_union(ska, skb))").as("est_u"))
    val ua = ev.filter($"event_type" === "view").select($"user_id").distinct()
    val ub = ev.filter($"event_type" === "purchase").select($"user_id").distinct()
    val exact = ua.join(ub, Seq("user_id")).agg(count(lit(1)).as("exact_inter"))
      .crossJoin(ua.agg(count(lit(1)).as("exact_a")))
      .crossJoin(ub.agg(count(lit(1)).as("exact_b")))
    est.crossJoin(exact).select(
      $"exact_a", $"exact_b", $"exact_inter",
      ($"exact_a" + $"exact_b" - $"exact_inter").as("exact_union"),
      (abs($"est_a" - $"exact_a") / $"exact_a" <= 0.05).as("a_within_5pct"),
      (abs($"est_b" - $"exact_b") / $"exact_b" <= 0.05).as("b_within_5pct"),
      (abs(($"est_a" + $"est_b" - $"est_u") - $"exact_inter") /
        $"exact_inter" <= 0.15).as("inter_within_15pct"))
  }

  // q310: sketch persistence — the incremental-analytics contract that
  // makes q135's re-aggregation operational: per-day HLL sketches are
  // WRITTEN TO PARQUET (binary column), read back in a separate scan,
  // and merged with hll_union_agg — so yesterday's raw events never need
  // to exist again; any date range's distinct count comes from unioning
  // stored kilobyte sketches. The face pins the whole loop (aggregate →
  // persist → read → merge → estimate) against the exact distinct count.
  def sketchPersistence(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q310", dir)
    val ev = Tables(s, dir).events.select($"user_id", to_date($"ts").as("day"))
    ev.groupBy($"day").agg(expr("hll_sketch_agg(user_id)").as("sk"))
      .write.mode("overwrite").parquet(out)
    val merged = s.read.parquet(out)
      .agg(count(lit(1)).as("n_days"),
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_total"))
    val exact = ev.agg(countDistinct($"user_id").as("exact_total"))
    merged.crossJoin(exact).select($"n_days", $"exact_total",
      (abs($"est_total" - $"exact_total") / $"exact_total" <= 0.05)
        .as("within_5pct"))
  }

  // q291: seasonal-naive forecast backtest with exact MASE — the
  // capacity-planning loop: forecast the last week's hourly event volume
  // with "same hour last week" and score it against the in-sample naive
  // (previous hour) baseline. MASE = (test MAE of the seasonal forecast)
  // / (train MAE of the 1-step naive) is THE scale-free backtest metric,
  // and here it's built entirely from exact integers: hourly counts on a
  // ZERO-FILLED (type × hour) spine (missing hours are real zeros, not
  // absent rows — without the spine every lag is silently wrong), integer
  // absolute errors, one final integer-ratio division. The spine is a
  // REDUCED table (|hours|·|types|), so the lag windows never touch raw
  // events — the q137/q234 reduce-first posture.
  def seasonalBacktest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hourUs = 3600000000L
    val ev = Tables(s, dir).events
      .select($"event_type", expr(s"unix_micros(ts) div $hourUs").as("h"))
    val counts = ev.groupBy($"event_type", $"h").agg(count(lit(1)).as("y"))
    val span = ev.agg(min($"h").as("h0"), max($"h").as("h1"))
    val grid = ev.select($"event_type").distinct()
      .crossJoin(broadcast(span))
      .select($"event_type", explode(sequence($"h0", $"h1")).as("h"), $"h1")
    val filled = grid.join(counts, Seq("event_type", "h"), "left")
      .select($"event_type", $"h", $"h1", coalesce($"y", lit(0L)).as("y"))
    val w = Window.partitionBy($"event_type").orderBy($"h")
    filled
      .withColumn("lag168", lag($"y", 168).over(w))
      .withColumn("lag1", lag($"y", 1).over(w))
      .withColumn("is_test", ($"h" > $"h1" - 168).cast("int"))
      .groupBy($"event_type")
      .agg(sum(when($"is_test" === 0 && $"lag1".isNotNull, 1L)).as("n_train"),
        sum(when($"is_test" === 1, 1L)).as("n_test"),
        sum(when($"is_test" === 1, abs($"y" - $"lag168"))).as("sae_seasonal"),
        sum(when($"is_test" === 0 && $"lag1".isNotNull, abs($"y" - $"lag1")))
          .as("sae_naive"))
      .select($"event_type", $"n_train", $"n_test", $"sae_seasonal", $"sae_naive",
        round(($"sae_seasonal" * $"n_train").cast("double") /
          ($"sae_naive" * $"n_test").cast("double"), 6).as("mase"))
      .orderBy($"event_type")
  }

  // q268: time-weighted average (TWAP) — each observation weighted by its
  // HOLDING DURATION (till the user's next event), the finance/metrics
  // aggregate a plain avg silently gets wrong on irregular samples. One
  // user-keyed window for the lead, then one bucket aggregate.
  // cents×micros products reach ~1e19 — past long range — so the
  // numerator runs in DECIMAL(38,0) (Spark) ≡ HUGEINT (DuckDB), both
  // exact; the two final IEEE divisions are fixed-order identical.
  def twap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    Tables(s, dir).events
      .select($"user_id", unix_micros($"ts").as("tus"), $"event_id",
        round($"value" * 100).cast("long").as("cents"))
      .withColumn("dur", lead($"tus", 1).over(w) - $"tus")
      .filter($"dur".isNotNull)
      .groupBy(($"user_id" % 25).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n_holds"),
        sum($"dur").as("held_us"),
        sum($"cents".cast("decimal(19,0)") * $"dur".cast("decimal(19,0)"))
          .as("_num"))
      .select($"bucket", $"n_holds", $"held_us",
        round(($"_num".cast("double") / $"held_us".cast("double")) / 100, 6)
          .as("twap"))
      .orderBy($"bucket")
  }

  // q269: sequence-pattern matching (MATCH_RECOGNIZE-lite) — per-user
  // event sequences as initial-letter strings (total order: ts then
  // event_id; per-user collect is bounded by user activity, q241's
  // argument), then pattern occurrences counted by pure string algebra:
  // occ = (len − len(replace(seq, pat, ''))) / 2 — integer-exact in any
  // engine, no regex dialect in the compare. Patterns: view→purchase,
  // signup→view, error→purchase adjacencies — the conversion/diagnostic
  // transitions a funnel query can't see (q77 allows gaps; these are
  // STRICT adjacencies).
  def eventPatterns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val seqs = Tables(s, dir).events
      .select($"user_id", unix_micros($"ts").as("tus"), $"event_id",
        substring($"event_type", 1, 1).as("ini"))
      .groupBy($"user_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct($"tus", $"event_id", $"ini"))),
        e => e.getField("ini")), "").as("seq"))
      .localCheckpoint() // three pattern passes share the reduced seqs
    def one(p: String) = seqs
      .select(expr(s"(length(seq) - length(replace(seq, '$p', ''))) DIV 2")
        .as("occ"))
      .agg(count(when($"occ" > 0, 1)).as("n_users_match"),
        sum($"occ").as("n_occurrences"))
      .select(lit(p).as("pattern"), $"n_users_match", $"n_occurrences")
    Seq("ep", "sv", "vp").map(one).reduce(_.unionByName(_))
      .orderBy($"pattern")
  }

  // q241: typed-API sessionization — groupByKey/flatMapGroups over
  // Dataset[(Long, Long)] with imperative per-user session logic (the
  // "(d) per-partition imperative" tier used where it's genuinely
  // clearest), gate-proven against the gaps-and-islands SQL oracle.
  // Timestamps travel as MICROSECOND longs (unix_micros) so the 10-min
  // gap compare never truncates to millis. Per-group state is one user's
  // events — bounded by per-user activity; unbounded keys would use
  // session_window (q72) instead.
  def typedSessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val gapUs = 600000000L
    val ev = Tables(s, dir).events
      .select($"user_id", unix_micros($"ts").as("tus")).as[(Long, Long)]
    ev.groupByKey(_._1).flatMapGroups { (uid, it) =>
      val ts = it.map(_._2).toArray.sorted
      val out = scala.collection.mutable.Buffer[(Long, Long, Long, Long)]()
      var start = ts(0); var prev = ts(0); var n = 1L
      ts.iterator.drop(1).foreach { t =>
        if (t - prev > gapUs) { out += ((uid, start, prev, n)); start = t; n = 1L }
        else n += 1
        prev = t
      }
      out += ((uid, start, prev, n))
      out
    }.toDF("user_id", "s", "e", "n_events")
      .select($"user_id", timestamp_micros($"s").as("session_start"),
        timestamp_micros($"e").as("session_end"), $"n_events")
      .orderBy($"user_id", $"session_start")
  }

  // q242: stream-static broadcast enrichment THROUGH the streaming
  // engine — readStream(orders) ⋈ broadcast(customer dim) → revenue per
  // market segment, AvailableNow + complete mode + memory sink, proven
  // against the batch join oracle. The dim side is a plain batch
  // DataFrame: exactly the at-scale shape (facts stream, dims broadcast
  // per micro-batch).
  def streamEnrich(s: SparkSession, dir: String): DataFrame =
    graft.streaming.ScratchCheckpoints.lean(s) {
    import s.implicits._
    val ordSchema = s.read.parquet(s"$dir/orders.parquet").schema
    val cust = Tables(s, dir).customer
      .select($"c_custkey", $"c_mktsegment")
    val nm = "q242_mem_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = s.readStream.schema(ordSchema)
      .option("pathGlobFilter", "orders.parquet").parquet(dir)
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        sum($"o_totalprice".cast("decimal(18,2)")).cast("double")
          .as("revenue"))
      .writeStream.format("memory").queryName(nm).outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(nm).orderBy($"c_mktsegment")
  }

  // q244: early-error impact — users who hit an 'error' within their
  // first 10 events vs users who didn't: purchase count and purchase
  // value per group (every "has type X ever" flag is degenerate on this
  // corpus — each user touches every type — so the cohort cut is
  // position-bounded). One user-keyed window pass for the early flag,
  // one user reduce, one |groups| aggregate; per-group stats only, so an
  // SF where one cohort is empty still yields a well-defined result.
  def earlyErrorImpact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val per = Tables(s, dir).events
      .select($"user_id", $"event_type", $"value",
        row_number().over(w).as("rn"))
      .groupBy($"user_id")
      .agg(max(when($"event_type" === "error" && $"rn" <= 10, 1)
          .otherwise(0)).as("early_error"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L))
          .as("n_purch"),
        coalesce(sum(when($"event_type" === "purchase",
          $"value".cast("decimal(18,2)"))), lit(0).cast("decimal(18,2)"))
          .as("purch_value"))
    per.groupBy($"early_error".cast("int").as("early_error"))
      .agg(count(lit(1)).as("n_users"),
        sum($"n_purch").as("total_purchases"),
        sum($"purch_value").as("_val"))
      .select($"early_error", $"n_users", $"total_purchases",
        round($"total_purchases".cast("double") / $"n_users", 6)
          .as("avg_purchases"),
        round($"_val".cast("double") / $"n_users", 6)
          .as("avg_purchase_value"))
      .orderBy($"early_error")
  }

  // q321: sketch-based join-cardinality estimation — the query-planner
  // telemetry that decides a join strategy BEFORE running the join:
  // |A ⋈_u B| = Σ_u a_u·b_u, and a count-min sketch estimates it as
  // min_k Σ_b cms_A[k][b]·cms_B[k][b] (here A = B = events keyed by
  // user: exact Σ c_u², the self-join size that predicts skew blowups).
  // The CMS inner product NEVER underestimates (hash collisions only
  // ADD non-negative cross terms), so the planner can trust the bound;
  // the face asserts exactly that, plus the overestimate in exact ppm.
  // At 100 TB: the sketch is d·w = 256 longs built in ONE pass with
  // map-side combine (vs shuffling the join to count it) and merges
  // across partitions/days by cell-wise addition — the mergeable-
  // sufficient-statistics property the q310 persisted-sketch loop
  // relies on. All arithmetic integer-exact (md5 buckets, long sums,
  // integer div for the ppm).
  def joinSizeEst(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.{TrainingData => TD}
    val freqs = Tables(s, dir).events
      .groupBy($"user_id").agg(count(lit(1)).as("c"))
      .localCheckpoint() // reused by the exact leg and all 4 sketch rows
    val exact = freqs.agg(sum($"c" * $"c").cast("long").as("exact_size"))
    val cells = (0 until 4).map { k =>
      freqs.select(lit(k).as("k"),
        TD.hashBucket(concat(lit(s"$k:"), $"user_id"), 64).as("bucket"), $"c")
    }.reduce(_.unionByName(_))
      .groupBy($"k", $"bucket").agg(sum($"c").cast("long").as("cell"))
    val est = cells.groupBy($"k")
      .agg(sum($"cell" * $"cell").cast("long").as("est_k"))
      .agg(min($"est_k").as("cms_est"))
    exact.crossJoin(broadcast(est))
      .select($"exact_size", $"cms_est",
        expr("(cms_est - exact_size) * 1000000 div exact_size").as("over_ppm"),
        ($"cms_est" >= $"exact_size").as("never_under"))
  }

  // q325: STL-lite seasonal decomposition, integer-exact — the
  // trend/seasonal/remainder split every forecasting pipeline starts
  // with, spelled so NO division ever happens: trend is the raw 7-day
  // centered SUM (t7), the detrended residual is r = 7·c − t7 (scaling
  // by 7 instead of dividing by 7), the weekday seasonal is carried as
  // (Σr, n) per ISO weekday, and the remainder is rem = n·r − Σr
  // (scaling by n instead of subtracting the mean). Every column is an
  // exact integer — the float STL's summation-order sensitivity can't
  // exist. The decomposition identity 7·n·c = n·t7 + ... holds by
  // construction. The centered window is UNPARTITIONED but over the
  // |days| table (~400 rows — the q143/months precedent: bounded
  // driver-known cardinality, never event-sized); edge days without a
  // full 7-row window are excluded like real STL trims its margins.
  def stlDecompose(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables(s, dir).events
      .groupBy(to_date($"ts").as("d")).agg(count(lit(1)).as("c"))
    val w7 = Window.orderBy($"d").rowsBetween(-3, 3)
    val t = daily.select($"d", $"c",
        sum($"c").over(w7).as("t7"), count(lit(1)).over(w7).as("nw"))
      .filter($"nw" === 7)
      .select($"d", $"c", $"t7", ($"c" * 7 - $"t7").as("r"),
        (expr("weekday(d)") + 1).cast("int").as("dow"))
    val seas = t.groupBy($"dow")
      .agg(sum($"r").as("sr"), count(lit(1)).as("nd"))
    t.join(broadcast(seas), Seq("dow"))
      .select($"d", $"c", $"t7", $"r", $"dow", $"sr", $"nd",
        ($"r" * $"nd" - $"sr").as("rem_scaled"))
      .orderBy($"d")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q333_stream_manifest_sink" -> streamManifestSink _,
    "q325_stl_decompose" -> stlDecompose _,
    "q321_join_size_est" -> joinSizeEst _,
    "q244_early_error" -> earlyErrorImpact _,
    "q241_typed_sessions" -> typedSessions _,
    "q242_stream_enrich" -> streamEnrich _,
    "q344_stream_manifest_source" -> streamManifestSource _,
    "q402_stream_dim_refresh" -> streamDimRefresh _,
    "q350_medallion_pipeline" -> medallionPipeline _,
    "q232_stream_parity" -> streamingParity _,
    "q267_stream_dedup" -> streamingDedupParity _,
    "q268_twap" -> twap _,
    "q272_stream_stream_join" -> streamStreamJoinParity _,
    "q274_ohlc_bars" -> ohlcBars _,
    "q275_salted_agg" -> saltedAgg _,
    "q276_interpolate" -> interpolateGrid _,
    "q277_session_paths" -> sessionPaths _,
    "q279_pearson_corr" -> pearsonCorr _,
    "q286_decay_score" -> decayScore _,
    "q291_seasonal_backtest" -> seasonalBacktest _,
    "q290_wilson_interval" -> wilsonIntervals _,
    "q292_incremental_sessions" -> incrementalSessions _,
    "q295_decay_attribution" -> decayAttribution _,
    "q293_rolling_slope" -> rollingSlope _,
    "q297_cumulative_uniques" -> cumulativeUniques _,
    "q309_hll_intersection" -> hllIntersection _,
    "q310_sketch_persistence" -> sketchPersistence _,
    "q269_event_patterns" -> eventPatterns _,
    "q224_retention_jaccard" -> retentionJaccard _,
    "q225_trigram_seqs" -> trigramSequences _,
    "q217_hourly_profile" -> hourlySeasonality _,
    "q218_adoption_curve" -> adoptionCurve _,
    "q214_session_cooccur" -> sessionCooccurrence _,
    "q205_activity_dist" -> activityDistribution _,
    "q207_run_lengths" -> runLengths _,
    "q202_timed_funnel" -> timedFunnel _,
    "q190_bounce_rate" -> bounceRate _,
    "q187_udaf_sql" -> udafLastWins _,
    "q182_bitmap_distinct" -> bitmapDistinct _,
    "q183_variant_props" -> variantProps _,
    "q176_session_hist" -> sessionDurationHist _,
    "q165_conversion_lag" -> conversionLag _,
    "q166_rolling_median" -> rollingMedian _,
    "q168_url_parse" -> urlParse _,
    "q161_streaks" -> activityStreaks _,
    "q162_ab_ttest" -> abTtest _,
    "q154_concurrency_sweep" -> concurrencySweep _,
    "q155_user_mode" -> userMode _,
    "q158_cusum_changepoint" -> cusumChangepoint _,
    "q119_event_gaps" -> eventGaps _,
    "q128_burst_dedup" -> burstDedup _,
    "q129_event_transitions" -> eventTransitions _,
    "q130_first_touch" -> firstTouchAttribution _,
    "q135_hll_daily_reagg" -> hllDailyReagg _,
    "q137_rolling_active" -> rollingActiveUsers _,
    "q142_try_funcs" -> tryFuncs _,
    "q143_calendar_spine" -> calendarSpine _,
    "q148_bit_median" -> bitAndMedian _,
    "q112_corrupt_json" -> corruptJson _,
    "q70_tumbling_hourly" -> tumblingHourly _,
    "q71_sliding_counts" -> slidingCounts _,
    "q72_session_windows" -> sessionWindows _,
    "q73_json_props" -> jsonProps _,
    "q76_retention_cohorts" -> retentionCohorts _,
    "q77_funnel_steps" -> funnelSteps _,
    "q95_resample_ffill" -> resampleFfill _,
    "q96_anomaly_zscore" -> anomalyZscore _
  )

  val oracles: Map[String, String] = Map(
    "q333_stream_manifest_sink" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q344_stream_manifest_source" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // enrichment is attributed BY INGEST TIME: the 1996-and-earlier fact
    // slice joined the original dim, the 1997 slice the re-labeled one
    "q402_stream_dim_refresh" ->
      """WITH f1 AS (SELECT CAST(o_custkey AS BIGINT) AS ckey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE year(o_orderdate) <= 1996),
        |f2 AS (SELECT CAST(o_custkey AS BIGINT) AS ckey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE year(o_orderdate) = 1997),
        |d1 AS (SELECT CAST(c_custkey AS BIGINT) AS ckey,
        |    c_mktsegment AS seg FROM customer),
        |d2 AS (SELECT ckey, CASE WHEN ckey % 3 = 0 THEN seg || '_X'
        |    ELSE seg END AS seg FROM d1),
        |u AS (SELECT seg, cents FROM f1 JOIN d1 USING (ckey)
        |  UNION ALL SELECT seg, cents FROM f2 JOIN d2 USING (ckey))
        |SELECT seg, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM u GROUP BY seg ORDER BY seg""".stripMargin,
    "q350_medallion_pipeline" ->
      """SELECT CAST(user_id % 50 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q325_stl_decompose" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |t AS (SELECT d, c, CAST(sum(c) OVER w AS BIGINT) AS t7,
        |    count(*) OVER w AS nw
        |  FROM daily
        |  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |t2 AS (SELECT d, c, t7, c * 7 - t7 AS r,
        |    CAST(isodow(d) AS INT) AS dow FROM t WHERE nw = 7),
        |seas AS (SELECT dow, CAST(sum(r) AS BIGINT) AS sr,
        |    CAST(count(*) AS BIGINT) AS nd FROM t2 GROUP BY 1)
        |SELECT d, c, t7, CAST(r AS BIGINT) AS r, t2.dow, sr, nd,
        |  CAST(r * nd - sr AS BIGINT) AS rem_scaled
        |FROM t2 JOIN seas USING (dow) ORDER BY d""".stripMargin,
    "q321_join_size_est" ->
      """WITH f AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |ex AS (SELECT CAST(sum(c * c) AS BIGINT) AS exact_size FROM f),
        |cells AS (SELECT t.k,
        |    ('0x' || substr(md5(CAST(t.k AS VARCHAR) || ':'
        |      || CAST(f.user_id AS VARCHAR)), 1, 6))::BIGINT % 64 AS bucket,
        |    CAST(sum(c) AS BIGINT) AS cell
        |  FROM f, range(0, 4) t(k) GROUP BY 1, 2),
        |est AS (SELECT CAST(min(est_k) AS BIGINT) AS cms_est FROM (
        |    SELECT k, CAST(sum(cell * cell) AS BIGINT) AS est_k
        |    FROM cells GROUP BY 1))
        |SELECT exact_size, cms_est,
        |  CAST((cms_est - exact_size) * 1000000 // exact_size AS BIGINT) AS over_ppm,
        |  cms_est >= exact_size AS never_under
        |FROM ex, est""".stripMargin,
    "q244_early_error" ->
      """WITH r AS (SELECT user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |per AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'error' AND rn <= 10
        |      THEN 1 ELSE 0 END) AS early_error,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS n_purch,
        |    coalesce(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(value AS DECIMAL(18,2)) END),
        |      CAST(0 AS DECIMAL(18,2))) AS purch_value
        |  FROM r GROUP BY user_id),
        |g AS (SELECT CAST(early_error AS INT) AS early_error,
        |    CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(n_purch) AS BIGINT) AS total_purchases,
        |    sum(purch_value) AS val_raw
        |  FROM per GROUP BY 1)
        |SELECT early_error, n_users, total_purchases,
        |  round(CAST(total_purchases AS DOUBLE) / n_users, 6)
        |    AS avg_purchases,
        |  round(CAST(val_raw AS DOUBLE) / n_users, 6)
        |    AS avg_purchase_value
        |FROM g ORDER BY early_error""".stripMargin,
    "q241_typed_sessions" ->
      """WITH e AS (SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id
        |    ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM e)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "q242_stream_enrich" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q232_stream_parity" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "q267_stream_dedup" ->
      """SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT)
        |    AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q274_ohlc_bars" ->
      """WITH p AS (SELECT ts, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase')
        |SELECT date_trunc('hour', ts) AS bar,
        |  arg_min(cents, ts) AS open, arg_max(cents, ts) AS close,
        |  max(cents) AS high, min(cents) AS low,
        |  CAST(count(*) AS BIGINT) AS n_trades,
        |  CAST(sum(cents) AS BIGINT) AS vol_cents
        |FROM p GROUP BY 1 ORDER BY bar""".stripMargin,
    "q275_salted_agg" ->
      """WITH e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT)
        |    AS cents FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS total_cents,
        |  min(cents) AS min_cents, max(cents) AS max_cents,
        |  round(CAST(sum(cents) AS DOUBLE) / count(*), 6) AS avg_cents
        |FROM e GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q276_interpolate" ->
      """WITH pts AS (SELECT user_id, epoch_us(ts) AS tus,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE user_id % 10 = 0 AND event_type = 'purchase'),
        |g0 AS (SELECT user_id, min(tus) AS lo, max(tus) AS hi FROM pts
        |  GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(
        |    lo - (lo % 3600000000) + 3600000000, hi, 3600000000)) AS tus
        |  FROM g0 WHERE lo - (lo % 3600000000) + 3600000000 <= hi),
        |u AS (SELECT user_id, tus, cents, 1 AS is_real FROM pts
        |  UNION ALL SELECT user_id, tus, NULL, 0 FROM grid),
        |w AS (SELECT user_id, tus, is_real,
        |  last_value(CASE WHEN is_real = 1
        |      THEN struct_pack(t := tus, v := cents) END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY tus, is_real
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
        |  first_value(CASE WHEN is_real = 1
        |      THEN struct_pack(t := tus, v := cents) END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY tus, is_real
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nx
        |  FROM u),
        |i AS (SELECT user_id, CAST(p.v AS DOUBLE)
        |    + CAST(nx.v - p.v AS DOUBLE) * CAST(tus - p.t AS DOUBLE)
        |      / CAST(nx.t - p.t AS DOUBLE) AS interp
        |  FROM w WHERE is_real = 0 AND p IS NOT NULL AND nx IS NOT NULL)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_grid,
        |  CAST(sum(CAST(round(interp * 10000) AS BIGINT)) AS BIGINT)
        |    AS interp_sum_e4
        |FROM i GROUP BY 1 ORDER BY user_id""".stripMargin,
    "q277_session_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus
        |  FROM events),
        |s1 AS (SELECT *, CASE WHEN lag(tus) OVER w IS NULL
        |      OR tus - lag(tus) OVER w > 1800000000 THEN 1 ELSE 0 END
        |    AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |s2 AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY tus, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM s1),
        |s3 AS (SELECT *, row_number() OVER (PARTITION BY user_id, sess
        |    ORDER BY tus, event_id) AS rn FROM s2),
        |p AS (SELECT user_id, sess, concat_ws('>',
        |    max(CASE WHEN rn = 1 THEN event_type END),
        |    max(CASE WHEN rn = 2 THEN event_type END),
        |    max(CASE WHEN rn = 3 THEN event_type END)) AS path
        |  FROM s3 WHERE rn <= 3 GROUP BY user_id, sess)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    "q279_pearson_corr" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS x,
        |    CAST(hour(ts) AS BIGINT) AS y FROM events),
        |a AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(x * y) AS HUGEINT) AS sxy,
        |    CAST(sum(x * x) AS HUGEINT) AS sx2,
        |    CAST(sum(y * y) AS HUGEINT) AS sy2
        |  FROM e GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_events,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(n * sx2 - sx * sx AS DOUBLE))
        |       * sqrt(CAST(n * sy2 - sy * sy AS DOUBLE))), 6) AS corr
        |FROM a ORDER BY event_type""".stripMargin,
    "q309_hll_intersection" ->
      """WITH a AS (SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'view'),
        |b AS (SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'purchase'),
        |x AS (SELECT CAST(count(*) AS BIGINT) AS exact_inter
        |  FROM a JOIN b USING (user_id)),
        |ca AS (SELECT CAST(count(*) AS BIGINT) AS exact_a FROM a),
        |cb AS (SELECT CAST(count(*) AS BIGINT) AS exact_b FROM b)
        |SELECT exact_a, exact_b, exact_inter,
        |  CAST(exact_a + exact_b - exact_inter AS BIGINT) AS exact_union,
        |  TRUE AS a_within_5pct, TRUE AS b_within_5pct,
        |  TRUE AS inter_within_15pct
        |FROM x, ca, cb""".stripMargin,
    "q310_sketch_persistence" ->
      """SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_total,
        |  TRUE AS within_5pct
        |FROM events""".stripMargin,
    "q293_rolling_slope" ->
      """WITH ev AS (SELECT event_type, epoch_us(ts) // 86400000000 AS d,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |byday AS (SELECT event_type, d, CAST(sum(cents) AS BIGINT) AS y
        |  FROM ev GROUP BY 1, 2),
        |span AS (SELECT min(d) AS d0, max(d) AS d1 FROM ev),
        |grid AS (SELECT t.event_type,
        |    unnest(generate_series(span.d0, span.d1)) AS d, span.d0
        |  FROM (SELECT DISTINCT event_type FROM ev) t, span),
        |filled AS (SELECT g.event_type, g.d - g.d0 AS x,
        |    coalesce(b.y, 0) AS y
        |  FROM grid g LEFT JOIN byday b
        |    ON g.event_type = b.event_type AND g.d = b.d),
        |wins AS (SELECT event_type, x,
        |    CAST(count(*) OVER f AS BIGINT) AS n,
        |    CAST(sum(x) OVER f AS BIGINT) AS sx,
        |    CAST(sum(y) OVER f AS BIGINT) AS sy,
        |    CAST(sum(x * y) OVER f AS BIGINT) AS sxy,
        |    CAST(sum(x * x) OVER f AS BIGINT) AS sx2
        |  FROM filled WINDOW f AS (PARTITION BY event_type ORDER BY x
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, x AS day_idx,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sx2 - sx * sx AS DOUBLE), 6) AS slope_cents_per_day
        |FROM wins WHERE n = 14
        |ORDER BY event_type, day_idx""".stripMargin,
    "q297_cumulative_uniques" ->
      """WITH f AS (SELECT user_id, min(epoch_us(ts) // 86400000000) AS d
        |  FROM events GROUP BY 1),
        |daily AS (SELECT d, CAST(count(*) AS BIGINT) AS n_new
        |  FROM f GROUP BY 1)
        |SELECT d AS day, n_new,
        |  CAST(sum(n_new) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM daily ORDER BY day""".stripMargin,
    "q290_wilson_interval" ->
      s"""WITH u AS (SELECT user_id,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS conv
         |  FROM events GROUP BY 1),
         |arms AS (SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
         |      1, 6))::BIGINT % 2 AS INT) AS arm, conv FROM u),
         |a AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
         |    CAST(sum(conv) AS BIGINT) AS n_conv FROM arms GROUP BY 1)
         |SELECT arm, n_users, n_conv,
         |  round(CAST(n_conv AS DOUBLE) / n_users, 6) AS rate,
         |  round(((CAST(n_conv AS DOUBLE) / n_users
         |      + 1.96 * 1.96 / (2 * n_users))
         |    - 1.96 * sqrt((CAST(n_conv AS DOUBLE) / n_users)
         |        * (1 - CAST(n_conv AS DOUBLE) / n_users) / n_users
         |      + 1.96 * 1.96 / (4 * n_users * n_users)))
         |    / (1 + 1.96 * 1.96 / n_users), 6) AS wilson_lo,
         |  round(((CAST(n_conv AS DOUBLE) / n_users
         |      + 1.96 * 1.96 / (2 * n_users))
         |    + 1.96 * sqrt((CAST(n_conv AS DOUBLE) / n_users)
         |        * (1 - CAST(n_conv AS DOUBLE) / n_users) / n_users
         |      + 1.96 * 1.96 / (4 * n_users * n_users)))
         |    / (1 + 1.96 * 1.96 / n_users), 6) AS wilson_hi
         |FROM a ORDER BY arm""".stripMargin,
    "q292_incremental_sessions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus
        |  FROM events),
        |s1 AS (SELECT *, CASE WHEN lag(tus) OVER w IS NULL
        |      OR tus - lag(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |s2 AS (SELECT *, sum(ns) OVER (PARTITION BY user_id
        |    ORDER BY tus, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM s1),
        |per AS (SELECT user_id, sess, CAST(count(*) AS BIGINT) AS n,
        |    max(tus) - min(tus) AS dur FROM s2 GROUP BY 1, 2)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(n) AS BIGINT) AS n_events,
        |  CAST(sum(dur) AS BIGINT) AS sum_dur_us,
        |  CAST(max(dur) AS BIGINT) AS max_dur_us
        |FROM per GROUP BY 1 ORDER BY user_id""".stripMargin,
    "q295_decay_attribution" ->
      """WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts)
        |    AS tus FROM events),
        |g AS (SELECT *, sum(CASE WHEN event_type = 'purchase' THEN 1
        |      ELSE 0 END) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS p_after
        |  FROM e),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, p_after
        |      ORDER BY tus DESC, event_id DESC) AS rank_back
        |  FROM g WHERE p_after >= 1 AND event_type <> 'purchase'),
        |c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_touches,
        |    CAST(sum(CAST(power(2, 8 - rank_back) AS BIGINT)) AS BIGINT)
        |      AS credit
        |  FROM r WHERE rank_back <= 8 GROUP BY 1),
        |t AS (SELECT sum(credit) AS t FROM c)
        |SELECT event_type, n_touches, credit,
        |  round(CAST(credit AS DOUBLE) / t, 6) AS share
        |FROM c, t ORDER BY event_type""".stripMargin,
    "q291_seasonal_backtest" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h
        |  FROM events),
        |counts AS (SELECT event_type, h, CAST(count(*) AS BIGINT) AS y
        |  FROM e GROUP BY 1, 2),
        |span AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
        |grid AS (SELECT t.event_type,
        |    unnest(generate_series(span.h0, span.h1)) AS h, span.h1
        |  FROM (SELECT DISTINCT event_type FROM e) t, span),
        |filled AS (SELECT g.event_type, g.h, g.h1,
        |    coalesce(c.y, 0) AS y
        |  FROM grid g LEFT JOIN counts c
        |    ON g.event_type = c.event_type AND g.h = c.h),
        |lg AS (SELECT *, lag(y, 168) OVER w AS lag168,
        |    lag(y, 1) OVER w AS lag1,
        |    CASE WHEN h > h1 - 168 THEN 1 ELSE 0 END AS is_test
        |  FROM filled WINDOW w AS (PARTITION BY event_type ORDER BY h))
        |SELECT event_type,
        |  CAST(sum(CASE WHEN is_test = 0 AND lag1 IS NOT NULL THEN 1 END)
        |    AS BIGINT) AS n_train,
        |  CAST(sum(CASE WHEN is_test = 1 THEN 1 END) AS BIGINT) AS n_test,
        |  CAST(sum(CASE WHEN is_test = 1 THEN abs(y - lag168) END)
        |    AS BIGINT) AS sae_seasonal,
        |  CAST(sum(CASE WHEN is_test = 0 AND lag1 IS NOT NULL
        |    THEN abs(y - lag1) END) AS BIGINT) AS sae_naive,
        |  round(CAST(sum(CASE WHEN is_test = 1 THEN abs(y - lag168) END)
        |      * sum(CASE WHEN is_test = 0 AND lag1 IS NOT NULL THEN 1 END)
        |      AS DOUBLE)
        |    / CAST(sum(CASE WHEN is_test = 0 AND lag1 IS NOT NULL
        |        THEN abs(y - lag1) END)
        |      * sum(CASE WHEN is_test = 1 THEN 1 END) AS DOUBLE), 6) AS mase
        |FROM lg GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q286_decay_score" ->
      """WITH p AS (SELECT user_id, ts, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE event_type = 'purchase' AND user_id % 7 = 0)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_used,
        |  CAST(sum(cents * CAST(power(2, 20 - rn) AS BIGINT)) AS BIGINT)
        |    AS score_x2e19
        |FROM p WHERE rn <= 20 GROUP BY 1 ORDER BY user_id""".stripMargin,
    "q272_stream_stream_join" ->
      """WITH v AS (SELECT user_id, epoch_us(ts) AS t, event_id AS vid
        |  FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, epoch_us(ts) AS t, event_id AS pid
        |  FROM events WHERE event_type = 'purchase'),
        |pairs AS (SELECT v.user_id, v.vid, p.pid, p.t - v.t AS lag_us
        |  FROM v JOIN p ON v.user_id = p.user_id
        |  AND p.t >= v.t AND p.t <= v.t + 3600000000)
        |SELECT CAST(user_id % 10 AS INT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(count(DISTINCT vid) AS BIGINT) AS n_views,
        |  CAST(count(DISTINCT pid) AS BIGINT) AS n_purchases,
        |  CAST(sum(lag_us) AS BIGINT) AS lag_us_sum
        |FROM pairs GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q268_twap" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |d AS (SELECT user_id, cents,
        |    lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
        |      - tus AS dur FROM e),
        |f AS (SELECT CAST(user_id % 25 AS INT) AS bucket, cents, dur
        |  FROM d WHERE dur IS NOT NULL)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_holds,
        |  CAST(sum(dur) AS BIGINT) AS held_us,
        |  round((CAST(sum(CAST(cents AS HUGEINT) * CAST(dur AS HUGEINT))
        |    AS DOUBLE) / CAST(sum(dur) AS DOUBLE)) / 100, 6) AS twap
        |FROM f GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q269_event_patterns" ->
      """WITH seqs AS (SELECT user_id,
        |    string_agg(substring(event_type, 1, 1), ''
        |      ORDER BY epoch_us(ts), event_id) AS seq
        |  FROM events GROUP BY user_id),
        |p(pattern) AS (VALUES ('ep'), ('sv'), ('vp')),
        |occ AS (SELECT p.pattern,
        |    (length(seq) - length(replace(seq, p.pattern, ''))) // 2 AS occ
        |  FROM seqs, p)
        |SELECT pattern,
        |  CAST(count(CASE WHEN occ > 0 THEN 1 END) AS BIGINT)
        |    AS n_users_match,
        |  CAST(sum(occ) AS BIGINT) AS n_occurrences
        |FROM occ GROUP BY pattern ORDER BY pattern""".stripMargin,
    "q224_retention_jaccard" ->
      """WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |    FROM events),
        |s AS (SELECT day, count(*) AS n FROM ud GROUP BY day),
        |i AS (SELECT a.day AS day, count(*) AS n_inter
        |  FROM ud a JOIN ud b
        |    ON a.day + INTERVAL 1 DAY = b.day AND a.user_id = b.user_id
        |  GROUP BY a.day)
        |SELECT s1.day AS day, CAST(s1.n AS BIGINT) AS n_day,
        |  CAST(s2.n AS BIGINT) AS n_next,
        |  CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
        |  round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
        |    / (s1.n + s2.n - coalesce(i.n_inter, 0)), 6) AS jaccard
        |FROM s s1 JOIN s s2 ON s1.day + INTERVAL 1 DAY = s2.day
        |LEFT JOIN i ON s1.day = i.day
        |ORDER BY day""".stripMargin,
    "q225_trigram_seqs" ->
      """WITH t AS (SELECT event_type AS e1,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
        |FROM t WHERE e3 IS NOT NULL
        |GROUP BY e1, e2, e3
        |ORDER BY n DESC, e1, e2, e3""".stripMargin,
    "q217_hourly_profile" ->
      """WITH h AS (SELECT event_type, CAST(hour(ts) AS INT) AS hr,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT event_type,
        |    CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
        |  FROM events GROUP BY event_type)
        |SELECT event_type, hr, CAST(n AS BIGINT) AS n, n_days,
        |  round(CAST(n AS DOUBLE) / n_days, 6) AS avg_per_day
        |FROM h JOIN d USING (event_type)
        |ORDER BY event_type, hr""".stripMargin,
    "q218_adoption_curve" ->
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS day
        |    FROM events GROUP BY user_id),
        |n AS (SELECT day, count(*) AS new_users FROM f GROUP BY day)
        |SELECT day, CAST(new_users AS BIGINT) AS new_users,
        |  CAST(sum(new_users) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM n ORDER BY day""".stripMargin,
    "q214_session_cooccur" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL '10 minutes'
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |numbered AS (
        |  SELECT user_id, ts, event_type,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM flagged),
        |sessions AS (
        |  SELECT CAST(min(ts) AS DATE) AS day,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nv,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
        |  FROM numbered GROUP BY user_id, sess)
        |SELECT day, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(CASE WHEN nv > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS with_view,
        |  CAST(sum(CASE WHEN np > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS with_purchase,
        |  CAST(sum(CASE WHEN nv > 0 AND np > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS with_both
        |FROM sessions GROUP BY day ORDER BY day""".stripMargin,
    "q205_activity_dist" ->
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events
        |    GROUP BY user_id)
        |SELECT CAST(floor(log2(cnt)) AS INT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(min(cnt) AS BIGINT) AS min_events,
        |  CAST(max(cnt) AS BIGINT) AS max_events
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q207_run_lengths" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) AS ms FROM events),
        |r AS (SELECT user_id,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |           OR lag(event_type) OVER w <> event_type
        |      THEN 1 ELSE 0 END AS is_start
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id))
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(is_start) AS BIGINT) AS n_runs,
        |  round(sum(is_start) / CAST(count(*) AS DOUBLE), 6) AS run_ratio
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q202_timed_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms
        |    FROM events),
        |t1 AS (SELECT user_id, min(ms) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, min(ms) AS t2, min(t1.t1) AS t1m
        |  FROM e JOIN t1 USING (user_id)
        |  WHERE event_type = 'click' AND ms > t1.t1
        |  GROUP BY e.user_id HAVING min(ms) - min(t1.t1) <= 3600000),
        |t3 AS (SELECT e.user_id, min(ms) AS t3, min(t2.t2) AS t2m
        |  FROM e JOIN t2 USING (user_id)
        |  WHERE event_type = 'purchase' AND ms > t2.t2
        |  GROUP BY e.user_id HAVING min(ms) - min(t2.t2) <= 3600000)
        |SELECT step, CAST(n AS BIGINT) AS n FROM (
        |  SELECT '1_view' AS step, count(*) AS n FROM t1
        |  UNION ALL SELECT '2_click_1h', count(*) FROM t2
        |  UNION ALL SELECT '3_purchase_1h', count(*) FROM t3)
        |ORDER BY step""".stripMargin,
    "q190_bounce_rate" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL '10 minutes'
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |numbered AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM flagged),
        |sessions AS (
        |  SELECT CAST(min(ts) AS DATE) AS day, count(*) AS n
        |  FROM numbered GROUP BY user_id, sess)
        |SELECT day, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bounce,
        |  round(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 6) AS bounce_rate
        |FROM sessions GROUP BY day ORDER BY day""".stripMargin,
    "q187_udaf_sql" ->
      """SELECT user_id, arg_max(event_type, event_id) AS last_type,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q182_bitmap_distinct" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT user_id % 10000) AS BIGINT) AS bitmap_distinct,
        |  CAST(count(DISTINCT user_id % 10000) AS BIGINT) AS exact_distinct,
        |  TRUE AS bitmap_exact
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q183_variant_props" ->
      """SELECT event_type,
        |  count(k) AS n, min(k) AS min_k, max(k) AS max_k,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(count(DISTINCT k) AS BIGINT) AS n_distinct
        |FROM (SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |  FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q176_session_hist" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL '10 minutes'
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |numbered AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM flagged),
        |sessions AS (
        |  SELECT epoch_ms(max(ts) + INTERVAL '10 minutes')
        |      - epoch_ms(min(ts)) AS dur_ms
        |  FROM numbered GROUP BY user_id, sess),
        |b AS (SELECT dur_ms,
        |    CAST(floor(log2(dur_ms / 1000.0 + 1)) AS INT) AS bucket
        |  FROM sessions)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(min(dur_ms) AS BIGINT) AS min_ms,
        |  CAST(max(dur_ms) AS BIGINT) AS max_ms
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q165_conversion_lag" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ms
        |    FROM events),
        |fv AS (SELECT user_id, min(ms) AS t_view FROM ev
        |  WHERE event_type = 'view' GROUP BY user_id),
        |l AS (SELECT e.user_id, min(ms) - min(t_view) AS lag_ms
        |  FROM ev e JOIN fv USING (user_id)
        |  WHERE event_type = 'purchase' AND ms > t_view
        |  GROUP BY e.user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |  CAST(min(lag_ms) AS BIGINT) AS min_ms,
        |  CAST(max(lag_ms) AS BIGINT) AS max_ms,
        |  round(quantile_cont(lag_ms, 0.5), 6) AS p50_ms,
        |  round(quantile_cont(lag_ms, 0.9), 6) AS p90_ms
        |FROM l""".stripMargin,
    "q166_rolling_median" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS cnt FROM events GROUP BY 1, 2)
        |SELECT event_type, day, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(count(*) OVER w AS BIGINT) AS n_window,
        |  round(quantile_cont(cnt, 0.5) OVER w, 6) AS med7
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY day
        |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin,
    "q168_url_parse" ->
      """WITH u AS (SELECT event_type,
        |    'shop.example.com' AS host,
        |    '/' || event_type || '/item' || CAST(event_id % 100 AS VARCHAR)
        |      AS path,
        |    'uid=' || CAST(user_id AS VARCHAR) || '&ref=email' AS query,
        |    user_id AS uid
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN host = 'shop.example.com' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_host_ok,
        |  CAST(count(DISTINCT path) AS BIGINT) AS n_paths,
        |  CAST(sum(CASE WHEN starts_with(query, 'uid=') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_query_ok,
        |  CAST(sum(uid) AS BIGINT) AS sum_uid
        |FROM u GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q161_streaks" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |    FROM events),
        |isl AS (SELECT user_id,
        |    day - CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY day) AS INT) AS anchor, day
        |  FROM ud),
        |runs AS (SELECT user_id, anchor, count(*) AS len,
        |    min(day) AS start_day
        |  FROM isl GROUP BY 1, 2)
        |SELECT user_id, CAST(max(len) AS BIGINT) AS longest_streak,
        |  CAST(count(*) AS BIGINT) AS n_streaks,
        |  CAST(sum(len) AS BIGINT) AS active_days,
        |  min(start_day) AS first_day
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q162_ab_ttest" ->
      """WITH p AS (SELECT CAST(user_id % 2 AS INT) AS variant,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE event_type = 'purchase'),
        |a AS (SELECT
        |    count(CASE WHEN variant = 0 THEN 1 END) AS cn0,
        |    sum(CASE WHEN variant = 0 THEN v END) AS s0,
        |    sum(CASE WHEN variant = 0 THEN v * v END) AS ss0,
        |    count(CASE WHEN variant = 1 THEN 1 END) AS cn1,
        |    sum(CASE WHEN variant = 1 THEN v END) AS s1,
        |    sum(CASE WHEN variant = 1 THEN v * v END) AS ss1
        |  FROM p),
        |m AS (SELECT CAST(cn0 AS BIGINT) AS n0, CAST(cn1 AS BIGINT) AS n1,
        |    CAST(s0 AS DOUBLE) / cn0 AS m0, CAST(s1 AS DOUBLE) / cn1 AS m1,
        |    (CAST(ss0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / cn0)
        |      / (cn0 - 1) AS v0,
        |    (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / cn1)
        |      / (cn1 - 1) AS v1
        |  FROM a)
        |SELECT n0, n1, round(m0, 6) AS mean0, round(m1, 6) AS mean1,
        |  round(v0, 6) AS var0, round(v1, 6) AS var1,
        |  round((m0 - m1) / sqrt(v0 / n0 + v1 / n1), 6) AS t_stat
        |FROM m""".stripMargin,
    "q154_concurrency_sweep" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL '10 minutes'
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |numbered AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM flagged),
        |sessions AS (
        |  SELECT user_id, min(ts) AS st,
        |    max(ts) + INTERVAL '10 minutes' AS en
        |  FROM numbered GROUP BY user_id, sess),
        |bounds AS (
        |  SELECT st AS ts, CAST(1 AS BIGINT) AS delta, user_id FROM sessions
        |  UNION ALL
        |  SELECT en, CAST(-1 AS BIGINT), user_id FROM sessions),
        |scanned AS (
        |  SELECT ts, delta,
        |    sum(delta) OVER (ORDER BY ts, delta, user_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |  FROM bounds)
        |SELECT CAST(ts AS DATE) AS day,
        |  CAST(max(conc) AS BIGINT) AS max_concurrent,
        |  CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_starts
        |FROM scanned GROUP BY 1 ORDER BY 1""".stripMargin,
    "q155_user_mode" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS c
        |    FROM events GROUP BY 1, 2),
        |m AS (SELECT user_id, event_type AS mode_type, c AS n_mode
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY c DESC, event_type) AS rn FROM c)
        |  WHERE rn = 1),
        |t AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(c) AS BIGINT) AS n_events FROM c GROUP BY user_id)
        |SELECT user_id, mode_type, n_mode, n_types, n_events
        |FROM m JOIN t USING (user_id) ORDER BY user_id""".stripMargin,
    "q158_cusum_changepoint" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, sum(cnt) AS t, count(*) AS nd
        |  FROM daily GROUP BY event_type),
        |scored AS (SELECT d.event_type, d.day,
        |    abs(nd * sum(cnt) OVER (PARTITION BY d.event_type ORDER BY d.day
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - row_number() OVER (PARTITION BY d.event_type ORDER BY d.day)
        |        * t) AS dev
        |  FROM daily d JOIN tot USING (event_type)),
        |mx AS (SELECT event_type, max(dev) AS max_dev_scaled
        |  FROM scored GROUP BY event_type),
        |cp AS (SELECT s.event_type, min(day) AS changepoint_day
        |  FROM scored s JOIN mx USING (event_type)
        |  WHERE dev = max_dev_scaled GROUP BY s.event_type)
        |SELECT event_type, CAST(nd AS BIGINT) AS n_days,
        |  CAST(max_dev_scaled AS BIGINT) AS max_dev_scaled, changepoint_day
        |FROM mx JOIN cp USING (event_type) JOIN tot USING (event_type)
        |ORDER BY event_type""".stripMargin,
    "q148_bit_median" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(bit_and(event_id) AS BIGINT) AS band,
        |  CAST(bit_or(event_id) AS BIGINT) AS bor,
        |  CAST(bit_xor(event_id) AS BIGINT) AS bxor,
        |  round(median(value), 6) AS median_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q142_try_funcs" ->
      """WITH m AS (SELECT event_type,
        |    TRY_CAST(CASE WHEN event_id % 3 = 0 THEN props
        |      ELSE CAST(event_id AS VARCHAR) END AS BIGINT) AS parsed,
        |    value / NULLIF(event_id % 5, 0) AS ratio
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(parsed) AS BIGINT) AS n_parsed,
        |  CAST(sum(parsed) AS BIGINT) AS sum_parsed,
        |  CAST(count(*) FILTER (ratio IS NULL) AS BIGINT) AS n_div0,
        |  round(CAST(sum(CAST(coalesce(ratio, 0) AS DECIMAL(18,6)))
        |    AS DOUBLE), 4) AS sum_ratio
        |FROM m GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q143_calendar_spine" ->
      """WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day FROM events),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
        |spine AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM b),
        |types AS (SELECT DISTINCT event_type FROM ev),
        |daily AS (SELECT event_type, day, count(*) AS n FROM ev GROUP BY 1, 2)
        |SELECT s.day, t.event_type, CAST(coalesce(d.n, 0) AS BIGINT) AS n
        |FROM spine s CROSS JOIN types t
        |LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = s.day
        |ORDER BY s.day, t.event_type""".stripMargin,
    "q137_rolling_active" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |    FROM events),
        |b AS (SELECT max(day) AS max_day FROM ud),
        |c AS (SELECT user_id, day + CAST(i AS INT) AS day2
        |  FROM ud, lateral (SELECT unnest(range(0, 7)) AS i))
        |SELECT day2 AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS active_7d
        |FROM c, b WHERE day2 <= max_day
        |GROUP BY day2 ORDER BY day2""".stripMargin,
    "q135_hll_daily_reagg" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  TRUE AS within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q128_burst_dedup" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms
        |    FROM events),
        |g AS (SELECT event_id, event_type, ms - lag(ms) OVER (
        |    PARTITION BY user_id, event_type ORDER BY ms, event_id) AS gap
        |  FROM e),
        |k AS (SELECT event_id, event_type,
        |    (gap IS NULL OR gap > 60000) AS keep FROM g)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(*) FILTER (keep) AS BIGINT) AS n_kept,
        |  md5(list_aggregate(list_sort(list(event_id) FILTER (keep)),
        |    'string_agg', ',')) AS kept_md5
        |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q129_event_transitions" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id
        |    FROM events),
        |p AS (SELECT event_type AS from_type, lead(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ms, event_id) AS to_type FROM e)
        |SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |FROM p WHERE to_type IS NOT NULL
        |GROUP BY from_type, to_type ORDER BY from_type, to_type""".stripMargin,
    "q130_first_touch" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |    epoch_ms(ts) AS ms FROM events),
        |ft AS (SELECT user_id, event_type AS first_type FROM (
        |    SELECT user_id, event_type, row_number() OVER (
        |      PARTITION BY user_id ORDER BY ms, event_id) AS rn FROM e)
        |  WHERE rn = 1),
        |p AS (SELECT user_id, count(*) AS np,
        |    sum(CAST(value AS DECIMAL(18,2))) AS pval
        |  FROM e WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT first_type, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(coalesce(np, 0)) AS BIGINT) AS n_purchases,
        |  CAST(sum(coalesce(pval, CAST(0 AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS purchase_value
        |FROM ft LEFT JOIN p USING (user_id)
        |GROUP BY first_type ORDER BY first_type""".stripMargin,
    "q119_event_gaps" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        |g AS (SELECT user_id, ms - lag(ms) OVER (
        |    PARTITION BY user_id ORDER BY ms, event_id) AS gap FROM e)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(*) FILTER (gap > 3600000) AS BIGINT) AS n_gaps_1h,
        |  coalesce(CAST(max(gap) AS BIGINT), 0) AS max_gap_ms
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "q112_corrupt_json" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(*) FILTER (event_id % 7 <> 0) AS BIGINT) AS n_parsed,
        |  CAST(count(*) FILTER (event_id % 7 = 0) AS BIGINT) AS n_corrupt,
        |  CAST(sum(CASE WHEN event_id % 7 <> 0 THEN len(props) ELSE 0 END) AS BIGINT)
        |    AS parsed_bytes
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q95_resample_ffill" ->
      """WITH b AS (
        |  SELECT user_id, time_bucket(INTERVAL '15 minutes', ts) AS bucket_ts,
        |    count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        |  FROM events WHERE user_id % 10 = 0 GROUP BY 1, 2),
        |grid AS (
        |  SELECT user_id,
        |    unnest(generate_series(min(bucket_ts), max(bucket_ts), INTERVAL '15 minutes')) AS bucket_ts
        |  FROM b GROUP BY user_id),
        |j AS (SELECT g.user_id, g.bucket_ts, b.n, b.v
        |  FROM grid g LEFT JOIN b USING (user_id, bucket_ts))
        |SELECT user_id, bucket_ts, coalesce(n, 0) AS n_events,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket_ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
        |FROM j ORDER BY user_id, bucket_ts""".stripMargin,
    "q96_anomaly_zscore" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |stats AS (SELECT event_type, day, n,
        |    count(n) OVER w AS w_cnt,
        |    CAST(sum(n) OVER w AS BIGINT) AS w_sum,
        |    sum(CAST(n AS DOUBLE) * n) OVER w AS w_sumsq
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |v AS (SELECT event_type, day, n,
        |    (w_sumsq - CAST(w_sum AS DOUBLE) * w_sum / 7) / 6 AS variance,
        |    CAST(w_sum AS DOUBLE) / 7 AS mean
        |  FROM stats WHERE w_cnt = 7)
        |SELECT event_type, day, n, round((n - mean) / sqrt(variance), 6) AS z
        |FROM v WHERE variance > 0 ORDER BY event_type, day""".stripMargin,
    "q70_tumbling_hourly" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "q71_sliding_counts" ->
      """WITH expanded AS (
        |  SELECT time_bucket(INTERVAL '15 minutes', ts) - k.k * INTERVAL '15 minutes' AS window_start, value
        |  FROM events, range(0, 4) k(k))
        |SELECT window_start, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM expanded GROUP BY 1 ORDER BY window_start""".stripMargin,
    "q72_session_windows" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL '10 minutes' THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |numbered AS (
        |  SELECT user_id, ts, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM flagged)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL '10 minutes' AS session_end,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM numbered GROUP BY user_id, sess
        |ORDER BY user_id, session_start""".stripMargin,
    "q73_json_props" ->
      """SELECT event_type, count(k) AS n,
        |  min(k) AS min_k, max(k) AS max_k, CAST(sum(k) AS BIGINT) AS sum_k
        |FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q76_retention_cohorts" ->
      """WITH ev AS (SELECT user_id, date_trunc('day', ts) AS day FROM events),
        |cohorts AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id)
        |SELECT cohort_day, CAST(date_diff('day', cohort_day, day) AS INT) AS day_n,
        |  count(DISTINCT ev.user_id) AS n_users
        |FROM ev JOIN cohorts USING (user_id)
        |GROUP BY cohort_day, day_n ORDER BY cohort_day, day_n""".stripMargin,
    "q77_funnel_steps" ->
      """WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN t1 USING (user_id)
        |  WHERE event_type = 'click' AND ts > t1.t1 GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN t2 USING (user_id)
        |  WHERE event_type = 'purchase' AND ts > t2.t2 GROUP BY e.user_id)
        |SELECT step, n FROM (
        |  SELECT '1_view' AS step, count(*) AS n FROM t1
        |  UNION ALL SELECT '2_click', count(*) FROM t2
        |  UNION ALL SELECT '3_purchase', count(*) FROM t3)
        |ORDER BY step""".stripMargin
  )
}
