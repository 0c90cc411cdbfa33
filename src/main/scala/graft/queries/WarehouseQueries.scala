package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Relational

/** Incremental-warehouse staples the reference's insert-only pipeline
  * cannot express: keyed MERGE/upsert (its anti-join can insert but never
  * update a row — `spark_streaming.py:80-88`) and SCD2 validity windows.
  */
object WarehouseQueries {

  // q89: keyed upsert/MERGE face. Target = orders (projected); updates
  // carry an in-batch key CONFLICT (seq 0 vs seq 1 on the same keys — the
  // later must win), plus pure inserts under fresh keys. The face verifies
  // full merge semantics: untouched rows pass through, matched keys take
  // exactly the winning update, inserts land once.
  def upsertMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val target = Tables(s, dir).orders
      .select($"o_orderkey", $"o_totalprice", $"o_orderstatus")
    val base = Tables(s, dir).orders
    val losing = base.filter($"o_orderkey" % 97 === 0)
      .select($"o_orderkey", ($"o_totalprice" + 500).as("o_totalprice"),
        lit("U").as("o_orderstatus"), lit(0L).as("_seq"))
    val winning = base.filter($"o_orderkey" % 97 === 0)
      .select($"o_orderkey", ($"o_totalprice" + 1000).as("o_totalprice"),
        lit("U").as("o_orderstatus"), lit(1L).as("_seq"))
    val inserts = base.filter($"o_orderkey" % 997 === 0)
      .select(($"o_orderkey" + 100000000L).as("o_orderkey"), $"o_totalprice",
        lit("I").as("o_orderstatus"), lit(2L).as("_seq"))
    val merged = Relational.upsert(target,
      losing.unionByName(winning).unionByName(inserts),
      Seq("o_orderkey"), col("_seq"))
    merged.groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(round($"o_totalprice" * 100, 0).cast("long")).as("total_cents"),
        countDistinct($"o_orderkey").as("n_keys"))
      .orderBy($"o_orderstatus")
  }

  // q90: SCD2 validity windows — each order becomes a slowly-changing-
  // dimension version row per customer: valid_from = its date, valid_to =
  // the next version's date (NULL while current). One shuffle on the
  // customer key; the window sort is per-partition.
  def scd2History(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables(s, dir).orders
      .select($"o_custkey", $"o_orderkey",
        $"o_orderdate".as("valid_from"),
        lead($"o_orderdate", 1).over(w).as("valid_to"),
        lead($"o_orderdate", 1).over(w).isNull.as("is_current"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  // q97: declarative data-quality report (Deequ-lite) — uniqueness, null,
  // range, domain, and referential-integrity checks over orders, every
  // row-level check sharing ONE scan (see operators.Quality). The report
  // shape (check, violations, n_rows) is what a pipeline gates on.
  def qualityReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = Tables(s, dir)
    graft.operators.Quality.report(t.orders, Seq(
      graft.operators.Quality.Unique("orderkey_unique", Seq("o_orderkey")),
      graft.operators.Quality.NotNull("custkey_not_null", "o_custkey"),
      graft.operators.Quality.InRange("totalprice_range", "o_totalprice", 0.0, 1e7),
      graft.operators.Quality.Satisfies("status_domain",
        $"o_orderstatus".isin("O", "F", "P")),
      graft.operators.Quality.ForeignKey("custkey_fk", "o_custkey",
        t.customer, "c_custkey")))
  }

  // q179: cohort LTV triangle — per first-order-month cohort, revenue by
  // months-since-acquisition with cumulative share (the lifetime-value
  // curve). Month indices are pure integers (year·12 + month), revenue
  // decimal-exact; the cumulative window partitions by cohort over the
  // |cohorts|×|months| triangle, never the fact table.
  def cohortLtv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables(s, dir).orders
      .select($"o_custkey",
        (year($"o_orderdate") * 12 + month($"o_orderdate")).as("m"),
        $"o_totalprice".cast("decimal(18,2)").as("rev"))
    val cohort = o.groupBy($"o_custkey").agg(min($"m").as("cm"))
    val cells = o.join(cohort, Seq("o_custkey"))
      .groupBy($"cm", ($"m" - $"cm").as("k"))
      .agg(countDistinct($"o_custkey").as("active"), sum($"rev").as("crev"))
    val wCum = Window.partitionBy($"cm").orderBy($"k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy($"cm")
    cells
      .select($"cm", $"k", $"active",
        $"crev".cast("double").as("rev"),
        sum($"crev").over(wCum).as("_cum"),
        sum($"crev").over(wTot).as("_tot"))
      .select($"cm", $"k", $"active", $"rev",
        round($"_cum".cast("double") / $"_tot".cast("double"), 6)
          .as("cum_share"))
      .orderBy($"cm", $"k")
  }

  // q180: segment migration matrix — customers re-quartiled in two
  // periods (1996 vs 1997 spend, distributedNtile both times), transition
  // cell counts + decimal-exact spend delta. The periods rank
  // independently over the reduced customer dim; the matrix is the
  // re-engagement report marketing runs every year.
  def segmentMigration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def spendIn(yr: Int) = Tables(s, dir).orders
      .filter(year($"o_orderdate") === yr)
      .groupBy($"o_custkey")
      .agg(sum($"o_totalprice".cast("decimal(18,2)"))
        .cast("decimal(18,2)").as(s"spend$yr"))
    val a = Relational.distributedNtile(spendIn(1996),
      Seq($"spend1996".desc, $"o_custkey".asc), 4, "q96")
    val b = Relational.distributedNtile(spendIn(1997),
      Seq($"spend1997".desc, $"o_custkey".asc), 4, "q97")
    a.join(b, Seq("o_custkey"))
      .groupBy($"q96", $"q97")
      .agg(count(lit(1)).as("n_customers"),
        sum($"spend1997" - $"spend1996").cast("double").as("spend_delta"))
      .orderBy($"q96", $"q97")
  }

  private def dec(c: Column) = c.cast("decimal(18,2)")

  // q259: incremental JOIN-view maintenance — the delta-join identity
  // behind every materialized join view: for V = A ⋈ B with A = A₀ ∪ ΔA,
  // B = B₀ ∪ ΔB, the new contribution is ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB — three
  // DELTA-SIZED joins (each has a delta on at least one side), never a
  // re-join of history against history. Combined with q100's mergeable
  // partials, the daily cost at 100 TB is |Δ|·log instead of |A|·|B|:
  // the snapshot contributes only its per-key partial rows. Correctness
  // contract = the oracle recomputes the view from scratch over ALL
  // data; incremental ≡ full is the hash-checked identity.
  def incrementalJoinView(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cut = lit("1999-01-01").cast("timestamp")
    val t = Tables(s, dir)
    val (a0, dA) = (t.orders.filter($"o_orderdate" < cut),
      t.orders.filter($"o_orderdate" >= cut))
    val (b0, dB) = (t.lineitem.filter($"l_shipdate" < cut),
      t.lineitem.filter($"l_shipdate" >= cut))
    def joined(a: DataFrame, b: DataFrame) =
      a.select($"o_custkey", $"o_orderkey")
        .join(b.select($"l_orderkey", (dec($"l_extendedprice") *
          (lit(1).cast("decimal(18,2)") - dec($"l_discount"))).as("v")),
          $"o_orderkey" === $"l_orderkey")
        .select($"o_custkey", $"v")
    def partials(df: DataFrame) = Relational.partialAggs(df,
      Seq("o_custkey"), "n_items", Seq("rev_dec" -> col("v")))
    val snapshot = partials(joined(a0, b0)) // materialized once, reused
    val delta = partials(joined(dA, b0)
      .unionByName(joined(a0, dB)).unionByName(joined(dA, dB)))
    Relational.mergePartialAggs(Seq(snapshot, delta), Seq("o_custkey"),
        "n_items", Seq("rev_dec"))
      .select($"o_custkey", $"n_items".cast("long").as("n_items"),
        $"rev_dec".cast("double").as("revenue"))
      .orderBy($"o_custkey")
  }

  // q260: CDC changelog apply — an ordered stream of I/U/D operations
  // folded onto a base snapshot, the consumer side of Debezium-style
  // feeds (q89's MERGE can update but never DELETE). Last-op-per-key via
  // ONE max_by-shaped aggregate (max on a seq-first struct — mergeable,
  // no window sort), then: final U rows replace, final D rows erase, and
  // untouched base rows pass through a key anti join. The base is never
  // rescanned beyond that single join; the changelog shuffles once on
  // key. Synthetic log: every post-cut order upserts (seq 1), every 3rd
  // key upserts again (seq 2, must win over seq 1), every 10th deletes
  // (seq 3, must win over both), and every 7th PRE-cut key deletes a row
  // that exists only in the base.
  def cdcApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cut = lit("1999-01-01").cast("timestamp")
    val cents = round($"o_totalprice" * 100).cast("long")
    val base = Tables(s, dir).orders.filter($"o_orderdate" < cut)
      .select($"o_orderkey".as("k"), $"o_orderstatus".as("st"), cents.as("cents"))
    val delta = Tables(s, dir).orders.filter($"o_orderdate" >= cut)
      .select($"o_orderkey".as("k"), $"o_orderstatus".as("st"), cents.as("cents"))
    val log = delta.select($"k", lit("U").as("op"), lit(1L).as("seq"),
        $"st", ($"cents" + 10000L).as("cents"))
      .unionByName(delta.filter($"k" % 3 === 0).select($"k", lit("U").as("op"),
        lit(2L).as("seq"), $"st", ($"cents" + 20000L).as("cents")))
      .unionByName(delta.filter($"k" % 10 < 2).select($"k", lit("D").as("op"),
        lit(3L).as("seq"), lit(null).cast("string").as("st"),
        lit(null).cast("long").as("cents")))
      .unionByName(base.filter($"k" % 7 === 0).select($"k", lit("D").as("op"),
        lit(1L).as("seq"), lit(null).cast("string").as("st"),
        lit(null).cast("long").as("cents")))
    val fin = log.groupBy($"k")
      .agg(max(struct($"seq", $"op", $"st", $"cents")).as("m"))
      .select($"k", $"m.op".as("op"), $"m.st".as("st"), $"m.cents".as("cents"))
    val untouched = base.join(fin.select($"k"), Seq("k"), "left_anti")
    val state = untouched.unionByName(
      fin.filter($"op" === "U").select($"k", $"st", $"cents"))
    state.groupBy($"st".as("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum($"cents").as("total_cents"),
        countDistinct($"k").as("n_keys"))
      .orderBy($"o_orderstatus")
  }

  // q262: Observation metrics — pipeline telemetry that rides the SAME
  // scan as the primary aggregate (`Dataset.observe`): at 100 TB a
  // separate profiling pass over the fact table is a second full scan,
  // observe() collects row counts / sums / conditional counts for free
  // at the existing exchange boundary. The face runs a real grouped
  // aggregate as the primary action, harvests the observed metrics, and
  // returns metrics + primary-result checksum in one row; the oracle
  // recomputes both directly. Observation names are UUID-fresh — the
  // Verify/Bench sessions run this repeatedly.
  def observeMetrics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val obs = new org.apache.spark.sql.Observation(
      "q262_" + java.util.UUID.randomUUID.toString)
    val li = Tables(s, dir).lineitem.observe(obs,
      count(lit(1)).as("n_rows"),
      sum(round($"l_extendedprice" * 100).cast("long")).as("price_cents"),
      sum(when($"l_discount" > 0.05, 1L).otherwise(0L)).as("n_discounted"))
    val primary = li.groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0)(0).toLong * r.getLong(1)).sum
    val m = obs.get
    s.createDataFrame(Seq((m("n_rows").asInstanceOf[Long],
        m("price_cents").asInstanceOf[Long],
        m("n_discounted").asInstanceOf[Long], primary)))
      .toDF("n_rows", "price_cents", "n_discounted", "primary_checksum")
  }

  // q270: versioned-table time travel — the snapshot-isolation contract
  // through graft.sources.ManifestTable (Iceberg-lite: immutable data
  // files + per-version manifests, readers never list directories).
  // Three commits: v1 = the pre-cut snapshot (overwrite), v2 = the
  // post-cut delta (append — manifest v2 ⊇ v1's files), v3 = a logical
  // rewrite keeping only finished orders (overwrite — the compaction /
  // DELETE path; v1/v2 readers are untouched because their files are
  // never mutated). The face reads ALL THREE versions back and reports
  // per-version row counts + exact cents; the oracle recomputes each
  // version's defining predicate from the base table — time travel ≡
  // recompute is the hash-checked identity.
  def timeTravel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q270", dir)
    // deterministic versions on every run (bench measures this 3×)
    val cut = lit("1999-01-01").cast("timestamp")
    import graft.sources.ManifestTable
    def slice(cond: Column) = Tables(s, dir).orders.filter(cond)
      .select($"o_orderkey", $"o_orderstatus",
        round($"o_totalprice" * 100).cast("long").as("cents"))
    ManifestTable.commit(slice($"o_orderdate" < cut), out, append = false)
    ManifestTable.commit(slice($"o_orderdate" >= cut), out, append = true)
    ManifestTable.commit(
      ManifestTable.read(s, out, 2).filter($"o_orderstatus" === "F"),
      out, append = false)
    (1 to 3).map { v =>
      ManifestTable.read(s, out, v)
        .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
        .select(lit(v).as("version"), $"n_rows", $"total_cents")
    }.reduce(_.unionByName(_)).orderBy($"version")
  }

  // q273: compaction + snapshot expiry — the storage-maintenance half of
  // the versioned table (q270 proved reads; this proves the REWRITE and
  // RECLAIM paths a 100 TB lake table lives or dies by). Three
  // 8-file commits build a 24-file append chain; `compact` rewrites the
  // snapshot into 2 files as v4 (readers of v1-v3 untouched — their files
  // are immutable). Expiry is then asserted to respect append-chain
  // LIVENESS: `expire(keep = 2)` drops the v1/v2 manifests but deletes
  // ZERO data files, because surviving v3 still references every one of
  // them (liveness is a property of the surviving manifests' file-set
  // union, not of which commit wrote a file); `expire(keep = 1)` leaves
  // only the compacted v4, so all 24 pre-compaction files become orphans
  // and are reclaimed. The hash-checked identity: full chain ≡ compacted
  // ≡ post-expiry content, with manifest file counts pinned per stage.
  def compactExpire(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q273", dir)
    import graft.sources.ManifestTable
    val cut1 = lit("1997-01-01").cast("timestamp")
    val cut2 = lit("1999-01-01").cast("timestamp")
    def slice(cond: Column) = Tables(s, dir).orders.filter(cond)
      .select($"o_orderkey", $"o_orderstatus",
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .repartition(8)
    ManifestTable.commit(slice($"o_orderdate" < cut1), out, append = false)
    ManifestTable.commit(
      slice($"o_orderdate" >= cut1 && $"o_orderdate" < cut2), out, append = true)
    ManifestTable.commit(slice($"o_orderdate" >= cut2), out, append = true)
    val v4 = ManifestTable.compact(s, out, numFiles = 2)
    require(v4 == 4, s"q273: expected compaction to commit v4, got v$v4")
    def snap(stage: String, version: Int) =
      ManifestTable.read(s, out, version)
        .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
        .select(lit(stage).as("stage"), $"n_rows", $"total_cents",
          lit(ManifestTable.fileCount(out, version)).as("n_files"))
    // materialize BEFORE expiry mutates the manifest set
    val full = snap("1_append_chain", 3).localCheckpoint()
    val compacted = snap("2_compacted", 4).localCheckpoint()
    val (d2, o2) = ManifestTable.expire(out, keep = 2)
    require(d2 == 2 && o2 == 0,
      s"q273: keep=2 must drop v1/v2 manifests but delete NO files " +
        s"(v3 still references them) — got ($d2, $o2)")
    val (d1, o1) = ManifestTable.expire(out, keep = 1)
    require(d1 == 1 && o1 == 24,
      s"q273: keep=1 leaves only compacted v4; all 24 chain files must be " +
        s"reclaimed — got ($d1, $o1)")
    val expiredUnreadable =
      try { ManifestTable.read(s, out, 3); false }
      catch { case _: Exception => true }
    require(expiredUnreadable, "q273: time travel to an expired version must fail")
    full.unionByName(compacted)
      .unionByName(snap("3_after_expiry", -1))
      .orderBy($"stage")
  }

  // q318: snapshot ROLLBACK (Delta RESTORE / Iceberg rollback) — the
  // operational recovery path a versioned lake table exists for: a bad
  // overwrite (v3 drops every non-finished order) is undone by
  // publishing v4 whose manifest is v2's verbatim. Contracts proven by
  // the hash: (1) rollback restores BIT-identical content (v4 row ≡ v2
  // row); (2) history is preserved, not rewritten — v3 stays readable
  // after the rollback (its row is computed post-rollback); (3) the
  // rollback itself moves ZERO data bytes at any table size (a require
  // pins v4's file set to v2's — manifest lines, not rewrites). The
  // oracle recomputes each version's defining predicate from the base
  // table: restore ≡ recompute is the checked identity.
  def restoreRollback(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q318", dir)
    val cut = lit("1999-01-01").cast("timestamp")
    import graft.sources.ManifestTable
    def slice(cond: Column) = Tables(s, dir).orders.filter(cond)
      .select($"o_orderkey", $"o_orderstatus",
        round($"o_totalprice" * 100).cast("long").as("cents"))
    ManifestTable.commit(slice($"o_orderdate" < cut), out, append = false)
    ManifestTable.commit(slice($"o_orderdate" >= cut), out, append = true)
    // the "incident": an overwrite that wrongly drops every non-F order
    ManifestTable.commit(
      ManifestTable.read(s, out, 2).filter($"o_orderstatus" === "F"),
      out, append = false)
    val v4 = ManifestTable.rollback(out, toVersion = 2)
    require(v4 == 4, s"q318: expected rollback to publish v4, got v$v4")
    require(ManifestTable.fileCount(out, 4) == ManifestTable.fileCount(out, 2),
      "q318: rollback must reference v2's files verbatim, not rewrite them")
    (1 to 4).map { v =>
      ManifestTable.read(s, out, v)
        .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
        .select(lit(v).as("version"), $"n_rows", $"total_cents")
    }.reduce(_.unionByName(_)).orderBy($"version")
  }

  // q331: clustered compaction restores data skipping — the OPTIMIZE
  // pass a time-partitioned lake table runs weekly: after key-sharded
  // appends every file spans the whole shipdate range, so the q315
  // manifest stats prune NOTHING for a one-year slice (kept = all);
  // compactClustered rewrites range-partitioned + sorted, each file
  // owns a narrow range, and the SAME pruneInfo probe now skips most
  // files — requires pin before == all and after < before. The hashed
  // output is the sliced CONTENT through the stats-pruned read (plus
  // the caller's exact residual filter), which must equal a plain
  // predicate scan — clustering must never change results.
  def clusterCompact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q331", dir)
    import graft.sources.ManifestTable
    // epoch-day long, not the raw timestamp: Spark writes parquet
    // timestamps as INT96 by default, whose footer stats fileStats
    // (rightly) refuses — the portable clustering key is the integer
    ManifestTable.commit(Tables(s, dir).lineitem
      .select($"l_orderkey", $"l_returnflag",
        datediff($"l_shipdate".cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("ship_day"),
        round($"l_extendedprice" * 100).cast("long").as("cents"))
      .repartition(8), // hash layout: every file spans the full date range
      out, append = false)
    // probe: ship days within 1996 (day 9496 .. 9861)
    val (lo, hi) = (9496.0, 9861.0)
    val (k0, t0) = ManifestTable.pruneInfo(out, "ship_day", lo, hi)
    require(k0 == t0, s"q331: hash layout should defeat stats ($k0/$t0)")
    ManifestTable.compactClustered(s, out, numFiles = 8, Seq("ship_day"))
    val (k1, t1) = ManifestTable.pruneInfo(out, "ship_day", lo, hi)
    require(k1 < t1 && t1 == 8,
      s"q331: clustered files must prune for the 1996 slice ($k1/$t1)")
    ManifestTable.readWhere(s, out, "ship_day", lo, hi)
      .filter($"ship_day".between(9496, 9861)) // exact residual on the superset
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
      .orderBy($"l_returnflag")
  }

  // q338: planner NDV statistics in the manifest — the cost-based-
  // optimizer inputs (how many distinct join keys? broadcast or
  // shuffle?) answered with ZERO data IO at planning: each commit
  // persists an HLL sketch per declared column (Iceberg keeps the same
  // in puffin files), and the table-level estimate at any version is
  // the union of its contributing commits' sketches — mergeable by
  // construction, so appends never re-scan history. The face builds
  // the table in three commits, requires full sketch coverage, and
  // emits the q28/q189 tolerance contract: |est − exact|·20 ≤ exact
  // (within 5%, an integer inequality — HLL at lgK=12 is ~1.6%
  // stderr, so the bound is robust), with exact NDV recomputed by the
  // oracle.
  def ndvStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q338", dir)
    import graft.sources.ManifestTable
    val o = Tables(s, dir).orders
      .select($"o_orderkey", $"o_custkey", $"o_orderdate")
    val c1 = lit("1996-01-01").cast("timestamp")
    val c2 = lit("1998-01-01").cast("timestamp")
    ManifestTable.commitWithNdv(o.filter($"o_orderdate" < c1), out,
      append = false, Seq("o_orderkey", "o_custkey"))
    ManifestTable.commitWithNdv(o.filter($"o_orderdate" >= c1 && $"o_orderdate" < c2),
      out, append = true, Seq("o_orderkey", "o_custkey"))
    ManifestTable.commitWithNdv(o.filter($"o_orderdate" >= c2), out,
      append = true, Seq("o_orderkey", "o_custkey"))
    val snap = ManifestTable.read(s, out)
    Seq("o_orderkey", "o_custkey").map { c =>
      val (est, full) = ManifestTable.ndvEstimate(s, out, c)
      require(full, s"q338: every commit must carry a sketch for $c")
      snap.agg(countDistinct(col(c)).as("exact_ndv"))
        .select(lit(c).as("col"), $"exact_ndv",
          (abs(lit(est) - $"exact_ndv") * 20 <= $"exact_ndv").as("within_5pct"))
    }.reduce(_.unionByName(_)).orderBy($"col")
  }

  // q340: referential quarantine — the FK half of the dead-letter
  // pattern (q324 routed row-local violations; this routes rows whose
  // customer does not EXIST — the classic late-dimension/early-fact
  // race every warehouse load hits). A deterministic 1/51 slice of
  // orders gets its custkey shifted out of the dimension's key space;
  // quarantineFk must route exactly those rows out (orphans) and pass
  // every other row untouched — one broadcast key set, one anti + one
  // semi join, fact never shuffles. Output: per-disposition counts +
  // exact cents; one misrouted row breaks the hash.
  def fkQuarantineFace(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = Tables(s, dir)
    val facts = t.orders.select(
      when($"o_orderkey" % 51 === 0, $"o_custkey" + 1000000000L)
        .otherwise($"o_custkey").as("o_custkey"),
      $"o_orderstatus",
      round($"o_totalprice" * 100).cast("long").as("cents"))
    val (clean, orphans) = graft.operators.Quality.quarantineFk(
      facts, "o_custkey", t.customer, "c_custkey")
    clean.select(lit("clean").as("disposition"), $"o_orderstatus", $"cents")
      .unionByName(orphans.select(lit("orphan").as("disposition"),
        $"o_orderstatus", $"cents"))
      .groupBy($"disposition", $"o_orderstatus")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
      .orderBy($"disposition", $"o_orderstatus")
  }

  // q339: histogram range-selectivity SANDWICH — the third planner
  // statistic (min/max q315, bloom q326, NDV q338): per-commit exact
  // equi-width bucket counts merge by addition, and any range
  // predicate's cardinality is bounded from BOTH sides with zero data
  // IO — buckets fully inside count toward the lower bound,
  // intersecting buckets toward the upper. Unlike a sketch this is a
  // deterministic guarantee (lower ≤ |σ| ≤ upper, require-pinned with
  // exact counts on both legs), the number a CBO needs to choose scan
  // strategies and a skew-guard needs to veto a broadcast. The hashed
  // output is the exact range aggregate the bounds bracket.
  def histogramSelectivity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q339", dir)
    import graft.sources.ManifestTable
    val o = Tables(s, dir).orders
      .select($"o_orderkey", $"o_orderdate",
        round($"o_totalprice" * 100).cast("long").as("cents"))
    val c1 = lit("1996-01-01").cast("timestamp")
    val c2 = lit("1998-01-01").cast("timestamp")
    // cents ∈ [0, 64M) framed into 32 exact 2M-wide buckets
    def cm(df: DataFrame) = ManifestTable.commitWithHistogram(
      df.drop("o_orderdate"), out, append = ManifestTable.currentVersion(out) > 0,
      "cents", 0L, 64000000L, 32)
    cm(o.filter($"o_orderdate" < c1))
    cm(o.filter($"o_orderdate" >= c1 && $"o_orderdate" < c2))
    cm(o.filter($"o_orderdate" >= c2))
    // probe: orders between $50k and $150k (cents 5M .. 15M)
    val (qlo, qhi) = (5000000L, 15000000L)
    val (lower, upper, covered) = ManifestTable.rangeCardinality(out, "cents", qlo, qhi)
    val exact = ManifestTable.read(s, out)
      .filter($"cents" >= qlo && $"cents" < qhi).count()
    require(covered, "q339: every commit must carry the cents histogram")
    require(lower <= exact && exact <= upper,
      s"q339: sandwich violated — $lower ≤ $exact ≤ $upper must hold")
    require(upper < o.count(),
      s"q339: the upper bound must be informative (< total rows)")
    ManifestTable.read(s, out)
      .filter($"cents" >= qlo && $"cents" < qhi)
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
      .select($"n_rows", $"total_cents", lit(true).as("bounds_hold"))
  }

  // q337: Z-ORDER compaction prunes on BOTH dimensions — the 2-D
  // OPTIMIZE q331's 1-D sort can't deliver: a shipdate-sorted rewrite
  // makes date probes prune and partkey probes WORSE (each file then
  // spans the full key range). The z-value interleave gives every file
  // a narrow bounding box in both columns, so the SAME manifest stats
  // serve time-sliced scans AND key-ranged scans. requires pin: hash
  // layout keeps 8/8 on both probes; post-z-order BOTH probes keep < 8.
  // Output = the 2-D slice's content through the stats-pruned read plus
  // the exact residual filter — clustering must never change results.
  def zorderCompact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q337", dir)
    import graft.sources.ManifestTable
    ManifestTable.commit(Tables(s, dir).lineitem
      .select($"l_orderkey", $"l_returnflag",
        datediff($"l_shipdate".cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("ship_day"),
        $"l_partkey".as("pkey"),
        round($"l_extendedprice" * 100).cast("long").as("cents"))
      .repartition(8), out, append = false)
    // probes: one quarter of 1996 (days 9496..9586) and the lowest tenth
    // of the key space (scaled to the sf — keys are 0-based contiguous)
    val pkHi = math.max(Tables(s, dir).part.count() / 10, 10L).toDouble
    val (dLo, dHi) = (9496.0, 9586.0)
    require(ManifestTable.pruneInfo(out, "ship_day", dLo, dHi)._1 == 8 &&
      ManifestTable.pruneInfo(out, "pkey", 0.0, pkHi)._1 == 8,
      "q337: hash layout should defeat stats on both dims")
    ManifestTable.compactZOrder(s, out, numFiles = 8, "ship_day", "pkey")
    val (kd, td) = ManifestTable.pruneInfo(out, "ship_day", dLo, dHi)
    val (kp, tp) = ManifestTable.pruneInfo(out, "pkey", 0.0, pkHi)
    require(kd < td && kp < tp && td == 8 && tp == 8,
      s"q337: z-order must prune BOTH dims (ship_day $kd/$td, pkey $kp/$tp)")
    ManifestTable.readWhere(s, out, "ship_day", dLo, dHi)
      .filter($"ship_day".between(9496, 9586) && $"pkey" < pkHi)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
      .orderBy($"l_returnflag")
  }

  // q332: change data feed with row-level deletes — what an incremental
  // downstream consumer (replica, IVM, audit log) actually ingests: the
  // v1→v4 feed decomposes into INSERT events (v2's appended rows) and
  // DELETE events of BOTH kinds — v3's equality-delete rows
  // reconstructed from the merge-on-read view visible just before the
  // delete, and v4's position-delete rows pinned by exact (file, pos)
  // with row indexes attached — never a snapshot diff. The feed is
  // O(changed files); requires pin that an overwrite range refuses
  // loudly (file removals don't decompose into row events). Output:
  // per (change_type, status) counts + cents.
  def changeFeedCdc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q332", dir)
    val cut = lit("1998-01-01").cast("timestamp")
    import graft.sources.ManifestTable
    def proj(df: DataFrame) = df.select($"o_orderkey", $"o_orderstatus",
      round($"o_totalprice" * 100).cast("long").as("cents"))
    val o = Tables(s, dir).orders
    ManifestTable.commit(proj(o.filter($"o_orderdate" < cut)), out, append = false)
    ManifestTable.commit(proj(o.filter($"o_orderdate" >= cut)), out, append = true)
    ManifestTable.delete(
      o.filter($"o_orderkey" % 53 === 0).select($"o_orderkey"),
      out, "o_orderkey")
    // v4: POSITION delete (predicate erasure, no key) — its CDF events
    // are the rows visible at v3 matching it, i.e. %41 minus the
    // already-eq-deleted %53 overlap
    ManifestTable.deleteWhere(s, out, $"o_orderkey" % 41 === 0)
    val nPre = ManifestTable.changeFeed(s, out, fromVersion = 1).count()
    // v5: compaction is a MARKED rewrite (dataChange=false) — the feed
    // range may span it and the commit contributes ZERO events
    ManifestTable.compact(s, out, numFiles = 2)
    require(ManifestTable.changeFeed(s, out, 4, 5).count() == 0,
      "q332: a rewrite commit must contribute zero row-level events")
    // v6: a post-compaction delete still decomposes into delete events
    // (the segment AFTER the rewrite reconstructs from compacted files)
    ManifestTable.delete(
      o.filter($"o_orderkey" % 67 === 0).select($"o_orderkey"),
      out, "o_orderkey")
    val n67 = ManifestTable.read(s, out, 5)
      .filter($"o_orderkey" % 67 === 0).count()
    val feed = ManifestTable.changeFeed(s, out, fromVersion = 1)
    require(feed.count() == nPre + n67,
      s"q332: spanning feed must be pre-rewrite events + post-rewrite deletes " +
        s"(${feed.count()} vs $nPre + $n67)")
    // an UNMARKED overwrite (content change) must still refuse, not emit garbage
    ManifestTable.commit(proj(o.filter($"o_orderkey" % 997 === 0)), out, append = false)
    val refused =
      try { ManifestTable.changeFeed(s, out, fromVersion = 1); false }
      catch { case _: IllegalArgumentException => true }
    require(refused, "q332: an unmarked overwrite range must refuse row-level CDF")
    feed.groupBy($"_change_type", $"o_orderstatus")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
      .orderBy($"_change_type", $"o_orderstatus")
  }

  // q330: Write-Audit-Publish — the batch-load discipline that makes a
  // bad upstream delivery a NON-EVENT: the dirty batch (every %31 key's
  // status corrupted to 'X') is staged, audited against the staged
  // BYTES, and aborted — the table stays at v1, no reader ever saw a
  // corrupt row, the staging dir is reclaimed; the clean batch then
  // publishes as v2. requires pin the abort (version unchanged, zero
  // staged files leak) and the publish (v2); the hashed output is the
  // final table state, which must equal base ∪ clean-batch exactly —
  // i.e. the aborted rows left no trace.
  def wapFace(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q330", dir)
    val cut = lit("1998-01-01").cast("timestamp")
    import graft.sources.ManifestTable
    import graft.operators.Quality
    val o = Tables(s, dir).orders
    def proj(df: DataFrame) = df.select($"o_orderkey", $"o_orderstatus",
      round($"o_totalprice" * 100).cast("long").as("cents"))
    ManifestTable.commit(proj(o.filter($"o_orderdate" < cut)), out, append = false)
    val batch = o.filter($"o_orderdate" >= cut)
    val dirty = proj(batch).withColumn("o_orderstatus",
      when($"o_orderkey" % 31 === 0, lit("X")).otherwise($"o_orderstatus"))
    val checks = Seq(
      Quality.Satisfies("status_domain", $"o_orderstatus".isin("O", "F", "P")),
      Quality.InRange("cents_range", "cents", 0.0, 1e11))
    val (vBad, nBad) = ManifestTable.wapCommit(dirty, out, append = true, checks)
    require(vBad == -1 && nBad > 0,
      s"q330: dirty batch must abort with violations, got ($vBad, $nBad)")
    require(ManifestTable.currentVersion(out) == 1,
      "q330: an aborted WAP must leave the table at v1")
    require(!new java.io.File(s"$out/staging").exists() ||
      new java.io.File(s"$out/staging").listFiles().isEmpty,
      "q330: aborted staging files must be reclaimed")
    val (vOk, nOk) = ManifestTable.wapCommit(proj(batch), out, append = true, checks)
    require(vOk == 2 && nOk == 0,
      s"q330: clean batch must publish v2, got ($vOk, $nOk)")
    ManifestTable.read(s, out)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
      .orderBy($"o_orderstatus")
  }

  // q329: manifest schema evolution — the add-column contract a living
  // lake table needs: v2 appends rows WITH a new column and history is
  // never rewritten; the current read surfaces the union schema with
  // NULLs for pre-evolution rows (mergeSchema at the scan,
  // name-resolved union across commits), while time travel to v1 still
  // serves the ORIGINAL schema (a require pins it — evolution must not
  // leak backwards). The face groups by the evolved column with
  // pre-evolution rows under its NULL bucket, exact cents per group.
  def schemaEvolutionManifest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q329", dir)
    val cut = lit("1998-01-01").cast("timestamp")
    import graft.sources.ManifestTable
    val o = Tables(s, dir).orders
    ManifestTable.commit(o.filter($"o_orderdate" < cut)
      .select($"o_orderkey", round($"o_totalprice" * 100).cast("long").as("cents")),
      out, append = false)
    ManifestTable.commit(o.filter($"o_orderdate" >= cut)
      .select($"o_orderkey", round($"o_totalprice" * 100).cast("long").as("cents"),
        $"o_orderpriority"), // the evolved column
      out, append = true)
    require(ManifestTable.read(s, out, 1).schema.fieldNames.toSeq ==
      Seq("o_orderkey", "cents"),
      "q329: time travel to v1 must serve the pre-evolution schema")
    ManifestTable.read(s, out)
      .groupBy(coalesce($"o_orderpriority", lit("<pre-evolution>")).as("prio"))
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
      .orderBy($"prio")
  }

  // q326: Bloom point-lookup file skipping — the manifest-stats
  // complement q315 can't cover: an UNSORTED/key-sharded table has
  // every file spanning the whole key range, so min/max prunes nothing
  // for `key = ?`; per-file Bloom sidecars in the manifest prune to
  // ~1 + fpp·(files−1) with zero file IO at planning time (the filter
  // words live in the manifest line itself). Two 8-file bloom commits
  // build a 16-file table deliberately repartition()-sharded (worst
  // case for min/max); five point keys are then planned through the
  // bloom, a require pins that files WERE skipped in aggregate, and
  // the emitted rows are hash-checked against a plain point-select
  // oracle — skipping must never lose a row (no false negatives by
  // construction).
  def bloomPointSkip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q326", dir)
    val cut = lit("1998-01-01").cast("timestamp")
    import graft.sources.ManifestTable
    def slice(cond: Column) = Tables(s, dir).orders.filter(cond)
      .select($"o_orderkey", $"o_orderstatus",
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .repartition(8) // key-sharded: min/max stats are useless for k = ?
    // size the filter to the data, like any production bloom index:
    // ~10 bits per expected key per file (k=4 → fpp ≈ 1.2%); a FIXED
    // size saturates the moment the table grows 10× (measured: 16384
    // bits at 94k keys/file → fpp ≈ 1, zero files skipped)
    val keysPerFile = math.max(Tables(s, dir).orders.count() / 16, 256L)
    val bits = (((keysPerFile * 10) + 63) / 64 * 64).toInt
    ManifestTable.commitWithBloom(slice($"o_orderdate" < cut), out,
      append = false, Seq("o_orderkey"), bits)
    ManifestTable.commitWithBloom(slice($"o_orderdate" >= cut), out,
      append = true, Seq("o_orderkey"), bits)
    val keys = Seq(7L, 137L, 555L, 1001L, 1400L)
    val total = ManifestTable.fileCount(out)
    val kept = keys.map(k =>
      ManifestTable.pointPruneInfo(out, "o_orderkey", k.toString)._1).sum
    require(kept < keys.size * total,
      s"q326: bloom pruned nothing ($kept of ${keys.size * total} file-probes kept)")
    keys.map { k =>
      ManifestTable.readPoint(s, out, "o_orderkey", k.toString)
        .filter($"o_orderkey" === k)
        .agg(count(lit(1)).as("n_rows"), sum($"cents").as("cents"))
        .select(lit(k).as("o_orderkey"), $"n_rows", $"cents")
    }.reduce(_.unionByName(_)).orderBy($"o_orderkey")
  }

  // q324: constraint quarantine — the write-side DQ operator q97's
  // report doesn't give: violating rows are ROUTED OUT with
  // machine-readable reasons (the dead-letter pattern for batch loads)
  // instead of failing the job or silently loading garbage. One scan,
  // zero shuffles to classify (reasons = codegen'd when-array);
  // the face groups quarantined rows by their exact reason COMBINATION
  // (multi-violation rows surface as 'a,b' rows — the signal that two
  // upstream bugs overlap) plus one 'clean' row, with exact cents so a
  // single misrouted row breaks the hash.
  def quarantineFace(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (clean, quar) = graft.operators.Quality.quarantine(
      Tables(s, dir).orders, Seq(
        graft.operators.Quality.NotNull("custkey_null", "o_custkey"),
        graft.operators.Quality.InRange("price_range", "o_totalprice", 0.0, 300000.0),
        graft.operators.Quality.Satisfies("status_domain",
          $"o_orderstatus".isin("O", "F"))))
    quar.select(array_join($"_reasons", ",").as("reasons"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .unionByName(clean.select(lit("clean").as("reasons"),
        round($"o_totalprice" * 100).cast("long").as("cents")))
      .groupBy($"reasons")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
      .orderBy($"reasons")
  }

  // q323: order-independent table checksum — the cross-system
  // reconciliation primitive (did the migration/replication/backfill
  // produce the SAME table?) that q146's totals can't give: totals
  // collide, a content checksum doesn't. Each row is canonically
  // serialized (keys + money-as-cents + dates as yyyy-MM-dd, unit-
  // separator joined — doubles never enter the hashed string, their
  // engine-specific repr would break cross-system stability), md5'd,
  // and the top 40 bits summed in DECIMAL(38,0) — commutative and
  // associative, so the checksum is partition-order-independent and
  // MERGEABLE: shard checksums add up to the table checksum, which is
  // how 100 TB gets checksummed incrementally (per partition/day,
  // rolled up, compared shard-by-shard to pin WHERE a mismatch lives).
  // Grouped by l_returnflag here to prove the mergeable-shards face;
  // emitted as digit strings (decimal38 reprs identical cross-engine).
  def tableChecksum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val canon = concat_ws("\u001f", // unit separator: "12"+"3" != "1"+"23"
      $"l_orderkey", $"l_partkey", $"l_suppkey", $"l_linenumber",
      round($"l_quantity" * 100).cast("long"),
      round($"l_extendedprice" * 100).cast("long"),
      round($"l_discount" * 100).cast("long"),
      round($"l_tax" * 100).cast("long"),
      $"l_returnflag", $"l_linestatus",
      date_format($"l_shipdate", "yyyy-MM-dd"))
    Tables(s, dir).lineitem
      .select($"l_returnflag",
        conv(substring(md5(canon.cast("binary")), 1, 10), 16, 10)
          .cast("decimal(38,0)").as("hv"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"), sum($"hv").as("_cs"))
      .select($"l_returnflag", $"n_rows",
        $"_cs".cast("decimal(38,0)").cast("string").as("checksum"))
      .orderBy($"l_returnflag")
  }

  // q283: equality-delete merge-on-read — deleting 0.1% of keys from a
  // 100 TB table by REWRITING it costs 100 TB of IO; the manifest table
  // instead commits a delete-key file (v2) that readers anti-join at scan
  // time. The face proves the three contracts that make that correct:
  // (1) the delete is sequence-scoped — '3-MEDIUM' rows appended AFTER
  // the delete (v3) survive, only pre-delete data is erased; (2) time
  // travel to v1 still sees the deleted rows (immutability); (3) compact
  // (v4) materializes the merge and PURGES the delete file physically —
  // read(v4) ≡ read(v3) with a delete-free manifest. Stage rows pin all
  // three states; the requires pin file-level bookkeeping.
  def deleteVectors(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q283", dir)
    import graft.sources.ManifestTable
    val cut = lit("1998-01-01").cast("timestamp")
    def slice(cond: Column) = Tables(s, dir).orders.filter(cond)
      .select($"o_orderkey", $"o_orderpriority",
        round($"o_totalprice" * 100).cast("long").as("cents"))
    ManifestTable.commit(slice($"o_orderdate" < cut), out, append = false)
    val delKeys = ManifestTable.read(s, out, 1)
      .filter($"o_orderpriority" === "3-MEDIUM").select($"o_orderkey")
    val v2 = ManifestTable.delete(delKeys, out, "o_orderkey")
    require(v2 == 2, s"q283: delete must commit v2, got v$v2")
    ManifestTable.commit(slice($"o_orderdate" >= cut), out, append = true)
    val v4 = ManifestTable.compact(s, out, numFiles = 2)
    require(v4 == 4, s"q283: compaction must commit v4, got v$v4")
    def snap(stage: String, version: Int) =
      ManifestTable.read(s, out, version)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
        .select(lit(stage).as("stage"), $"o_orderpriority", $"n_rows",
          $"total_cents")
    // v1 time travel still sees deleted rows; v3 is merge-on-read; v4 is
    // the materialized merge — v3 ≡ v4 content with the deletes purged.
    require(ManifestTable.fileCount(out, 4) == 2,
      s"q283: compacted manifest must hold exactly the 2 rewritten files")
    snap("1_before_delete", 1)
      .unionByName(snap("2_merge_on_read", 3))
      .unionByName(snap("3_compacted", 4))
      .orderBy($"stage", $"o_orderpriority")
  }

  // q299: DSv2 transactional write — the engine's DataSource-V2 BATCH
  // WRITE path (graft.sources.v2.ManifestWriteSource) driven end-to-end
  // under the correctness gate: executors stage one parquet file per
  // partition via the example-Group writer, the driver's BatchWrite
  // .commit moves them into the manifest table and publishes
  // write-then-rename — readers see the old version or the new one,
  // never a torn directory. Two append commits + one overwrite commit,
  // read back THROUGH the manifest (never a directory listing) and
  // aggregated; the oracle recomputes the same slices relationally. The
  // hash compare certifies the full loop: InternalRow → Group encoding →
  // staging → atomic publish → manifest-scoped scan.
  def dsv2Write(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q299", dir)
    val fmt = "graft.sources.v2.ManifestWriteSource"
    val cut = lit("1998-01-01").cast("timestamp")
    def slice(cond: Column) = Tables(s, dir).orders.filter(cond)
      .select($"o_orderkey", $"o_orderpriority", $"o_orderstatus",
        round($"o_totalprice" * 100).cast("long").as("cents"))
    slice($"o_orderdate" < cut).repartition(4)
      .write.format(fmt).option("path", out).mode("append").save()
    slice($"o_orderdate" >= cut).repartition(2)
      .write.format(fmt).option("path", out).mode("append").save()
    import graft.sources.ManifestTable
    require(ManifestTable.currentVersion(out) == 2,
      s"q299: two append commits must land v2")
    // overwrite commit: keep only open orders (truncate → new file set)
    ManifestTable.read(s, out).filter($"o_orderstatus" === "O")
      .write.format(fmt).option("path", out).mode("overwrite").save()
    require(ManifestTable.currentVersion(out) == 3,
      s"q299: overwrite must land v3")
    def snap(stage: String, version: Int) =
      ManifestTable.read(s, out, version)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
        .select(lit(stage).as("stage"), $"o_orderpriority", $"n_rows",
          $"total_cents")
    snap("1_first_append", 1)
      .unionByName(snap("2_appended", 2))
      .unionByName(snap("3_overwritten", 3))
      .orderBy($"stage", $"o_orderpriority")
  }

  // q301: incremental read (change feed) — "give me what's new since
  // version v" answered from the MANIFEST DIFF, so the cost is the delta
  // files only: yesterday's 100 TB never gets re-opened, which is the
  // entire point of incremental consumption on a lake table. Three
  // append commits (day-sliced orders); changes(v1→v3) must (a) plan a
  // scan over EXACTLY the commit-2/3 files — pinned with a require on
  // inputFiles, the file-level proof — and (b) aggregate to the same
  // answer as the relational slice (the row-level proof the oracle
  // hash-checks). The non-append guard rails (overwrite/delete in range
  // fail loudly) are spec-covered.
  def incrementalRead(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q301", dir)
    import graft.sources.ManifestTable
    val cut1 = lit("1997-01-01").cast("timestamp")
    val cut2 = lit("1999-01-01").cast("timestamp")
    def slice(cond: Column) = Tables(s, dir).orders.filter(cond)
      .select($"o_orderkey", $"o_orderpriority",
        round($"o_totalprice" * 100).cast("long").as("cents"))
    ManifestTable.commit(slice($"o_orderdate" < cut1), out, append = false)
    ManifestTable.commit(
      slice($"o_orderdate" >= cut1 && $"o_orderdate" < cut2), out, append = true)
    ManifestTable.commit(slice($"o_orderdate" >= cut2), out, append = true)
    val delta = ManifestTable.changes(s, out, fromVersion = 1)
    val read = delta.inputFiles.toSet
    require(read.nonEmpty && read.forall(f =>
      f.contains("commit-2") || f.contains("commit-3")),
      s"q301: incremental read must touch ONLY delta files, read: $read")
    delta.groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
      .orderBy($"o_orderpriority")
  }

  // q315: manifest-grain FILE SKIPPING — the planning win after partition
  // pruning (q126): every commit's manifest line carries per-column
  // min/max read once from the parquet footers, so a range query over a
  // date-clustered table opens ONLY the files whose stored range
  // intersects — no footer reads, no directory listing, no data I/O for
  // the skipped 10/14 files; at 100 TB with daily commits that is the
  // difference between planning against 7 years and reading 12 months.
  // Orders are committed in 7 year-clustered appends (2 files each); the
  // 1995-07→1996-06 window must prune to EXACTLY the 1995/1996 commits —
  // pinned with requires on both the stats prune count and the actual
  // scanned file set — and the pruned read + exact row filter must
  // aggregate to the same answer the oracle computes relationally from
  // the base table (stats pruning is a superset by construction; the
  // hash compare certifies no row was wrongly skipped).
  def fileSkipping(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q315", dir)
    import graft.sources.ManifestTable
    val rows = Tables(s, dir).orders
      .select($"o_orderkey", $"o_orderpriority",
        round($"o_totalprice" * 100).cast("long").as("cents"),
        datediff($"o_orderdate".cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("d"),
        year($"o_orderdate").as("y"))
    // the synthetic orders table spans 1995-01-01 … 2001-08-01 (all SFs)
    (1995 to 2001).foreach { y =>
      ManifestTable.commit(rows.filter($"y" === y).drop("y").repartition(2),
        out, append = y > 1995)
    }
    val lo = java.time.LocalDate.of(1995, 7, 1).toEpochDay
    val hi = java.time.LocalDate.of(1996, 6, 30).toEpochDay
    val (kept, total) = ManifestTable.pruneInfo(out, "d", lo.toDouble, hi.toDouble)
    require(total == 14 && kept == 4,
      s"q315: year-clustered stats must prune to 4/14 files, got $kept/$total")
    val pruned = ManifestTable.readWhere(s, out, "d", lo.toDouble, hi.toDouble)
    val scanned = pruned.inputFiles.toSet
    require(scanned.size == 4 && scanned.forall(f =>
      f.contains("commit-1") || f.contains("commit-2")),
      s"q315: pruned scan must touch only the 1995/1996 commits, got $scanned")
    pruned.filter($"d" >= lo && $"d" <= hi)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
      .orderBy($"o_orderpriority")
  }

  // q316: row-level DELETE WHERE via POSITION deletes — the second
  // Iceberg delete shape next to q283's equality deletes: the delete
  // commit records exact (file, row-position) pairs from one filtered
  // scan of the current snapshot, no key column required and NO data
  // file rewritten (the only affordable arbitrary-predicate erasure on a
  // 100 TB table). Readers anti-join on (file, pos), so physical rows
  // are pinned: matching rows APPENDED AFTER the delete survive — the
  // semantics the face proves across three versions (before / deleted /
  // appended-after), with a require pinning that v2 scans the SAME data
  // files as v1 (merge-on-read, not copy-on-write).
  def positionDeletes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q316", dir)
    import graft.sources.ManifestTable
    val cut = lit("1998-01-01").cast("timestamp")
    def slice(cond: Column) = Tables(s, dir).orders.filter(cond)
      .select($"o_orderkey", $"o_orderpriority",
        round($"o_totalprice" * 100).cast("long").as("cents"))
    ManifestTable.commit(slice($"o_orderdate" < cut), out, append = false)
    val v1Files = ManifestTable.read(s, out, 1).inputFiles.toSet
    val v2 = ManifestTable.deleteWhere(s, out,
      $"o_orderpriority" === "1-URGENT" && $"cents" % 100 < 50)
    require(v2 == 2, s"q316: position delete must commit v2, got v$v2")
    // v2's scan set = v1's data files (unchanged — merge-on-read, not
    // copy-on-write) plus ONLY the commit-2 position-delete file
    val v2Files = ManifestTable.read(s, out, 2).inputFiles.toSet
    require(v1Files.subsetOf(v2Files) &&
      (v2Files -- v1Files).forall(_.contains("commit-2")),
      "q316: merge-on-read must scan the SAME data files, none rewritten")
    ManifestTable.commit(slice($"o_orderdate" >= cut), out, append = true)
    def snap(stage: String, v: Int) =
      ManifestTable.read(s, out, v)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
        .select(lit(stage).as("stage"), $"o_orderpriority", $"n_rows",
          $"total_cents")
    snap("1_before", 1)
      .unionByName(snap("2_pos_deleted", 2))
      .unionByName(snap("3_appended_after", 3))
      .orderBy($"stage", $"o_orderpriority")
  }

  // q342: HIDDEN PARTITIONING — Iceberg-style partition transforms
  // declared ONCE on the table (bucket(16, o_orderkey) major for point
  // lookups, days(o_orderdate) minor for time ranges); commits cluster
  // files by the transform values and the manifest carries each file's
  // transform range, so readers prune by naming only the SOURCE column —
  // no physical directories, no listing, no knowledge of the layout in
  // query code. This is the cheapest planning win left after stats/
  // blooms/histograms at 100 TB: `ts >= yesterday` opens one day-grain
  // slice, `key = ?` opens ~1/16 of the files, and BOTH compose on the
  // same table because the clustering is major→minor. Requires pin both
  // prunes (kept < total at planning time, zero data IO); the emitted
  // rows are hash-checked against a plain relational recompute —
  // transform pruning is a superset by construction, so one wrongly
  // skipped file breaks the hash.
  def hiddenPartitioning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q342", dir)
    import graft.sources.ManifestTable
    import graft.sources.ManifestTable.{BucketTransform, DaysTransform}
    val spec = Seq(BucketTransform(16, "o_orderkey"), DaysTransform("od"))
    val cut = lit("1998-01-01").cast("timestamp")
    def slice(cond: Column) = Tables(s, dir).orders.filter(cond)
      .select($"o_orderkey", $"o_orderpriority", $"o_orderdate".as("od"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
    ManifestTable.commitPartitioned(slice($"o_orderdate" < cut), out,
      append = false, spec, numFiles = 24)
    ManifestTable.commitPartitioned(slice($"o_orderdate" >= cut), out,
      append = true, spec, numFiles = 24)
    // time-range face: prune through days(od) by naming od alone
    val lo = java.time.LocalDate.of(1995, 7, 1).toEpochDay
    val hi = java.time.LocalDate.of(1996, 6, 30).toEpochDay
    val (keptD, total) = ManifestTable.sourceDaysPruneInfo(out, "od", lo, hi)
    require(keptD < total,
      s"q342: days transform pruned nothing ($keptD/$total files kept)")
    val ranged = ManifestTable.readSourceDays(s, out, "od", lo, hi)
      .filter($"od" >= lit("1995-07-01").cast("timestamp") &&
        $"od" < lit("1996-07-01").cast("timestamp"))
      .groupBy($"o_orderpriority".as("key"))
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
      .select(lit("range").as("face"), $"key", $"n_rows", $"total_cents")
    // point face: prune through bucket(16, o_orderkey) per key
    val keys = Seq(7L, 555L, 1400L, 9999L)
    val keptB = keys.map(k =>
      ManifestTable.sourceBucketPruneInfo(out, "o_orderkey", k.toString)._1).sum
    require(keptB < keys.size * total,
      s"q342: bucket transform pruned nothing ($keptB of ${keys.size * total})")
    val points = keys.map { k =>
      ManifestTable.readSourceBucket(s, out, "o_orderkey", k.toString)
        .filter($"o_orderkey" === k)
    }.reduce(_.unionByName(_))
      .groupBy($"o_orderkey".cast("string").as("key"))
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
      .select(lit("point").as("face"), $"key", $"n_rows", $"total_cents")
    ranged.unionByName(points).orderBy($"face", $"key")
  }

  // q343: manifest-native MERGE INTO — the lakehouse verb q89's
  // whole-target rewrite can't afford at 100 TB: ONE commit pairs an
  // equality-delete of the update keys (sequence-scoped to earlier data)
  // with an append of the update rows (this commit's sequence, so its own
  // re-inserts survive). Commit cost is O(|updates|) with ZERO target IO —
  // no join, no rewrite; matched keys replace, unmatched insert. The
  // requires pin the three contracts: merge-on-read (v1 files untouched,
  // only commit-2 files added), time travel (pre-merge snapshot intact —
  // its aggregate is the face's '1_before' stage, computed AFTER the
  // merge), and the change feed decomposing the merge into one
  // delete+insert event pair per matched key, insert-only for new keys.
  // The '2_merged' stage must hash-equal the oracle's relational
  // recompute of the same upsert.
  def mergeInto(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q343", dir)
    import graft.sources.ManifestTable
    val rows = Tables(s, dir).orders
      .select($"o_orderkey", $"o_orderpriority",
        round($"o_totalprice" * 100).cast("long").as("cents"))
    ManifestTable.commit(rows, out, append = false)
    // matched updates: every key % 97 == 0 re-priced and re-labeled;
    // inserts: fresh keys derived from % 53 == 0 (disjoint key space)
    val updates = rows.filter($"o_orderkey" % 97 === 0)
      .select($"o_orderkey", lit("MERGED").as("o_orderpriority"),
        ($"cents" + 1000).as("cents"))
      .unionByName(rows.filter($"o_orderkey" % 53 === 0)
        .select(($"o_orderkey" + 10000000L).as("o_orderkey"),
          lit("NEW").as("o_orderpriority"), lit(777L).as("cents")))
    val nMatched = rows.filter($"o_orderkey" % 97 === 0).count()
    val nUpdates = updates.count()
    val v2 = ManifestTable.merge(updates, out, "o_orderkey")
    require(v2 == 2, s"q343: merge must commit v2, got v$v2")
    val v1Files = ManifestTable.read(s, out, 1).inputFiles.toSet
    val v2Files = ManifestTable.read(s, out, 2).inputFiles.toSet
    require(v1Files.subsetOf(v2Files) &&
      (v2Files -- v1Files).forall(_.contains("commit-2")),
      "q343: merge must be merge-on-read — no target file rewritten")
    val feed = ManifestTable.changeFeed(s, out, 1, 2)
    val nDelEvents = feed.filter($"_change_type" === "delete").count()
    val nInsEvents = feed.filter($"_change_type" === "insert").count()
    require(nDelEvents == nMatched && nInsEvents == nUpdates,
      s"q343: feed must decompose the merge ($nDelEvents dels vs $nMatched " +
        s"matched; $nInsEvents inserts vs $nUpdates updates)")
    def snap(stage: String, v: Int) =
      ManifestTable.read(s, out, v)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
        .select(lit(stage).as("stage"), $"o_orderpriority", $"n_rows",
          $"total_cents")
    snap("1_before", 1).unionByName(snap("2_merged", 2))
      .orderBy($"stage", $"o_orderpriority")
  }

  // q345: MULTI-WRITER OPTIMISTIC COMMITS — four writers append disjoint
  // slices of orders CONCURRENTLY through appendOptimistic: each stages
  // its bytes once under a per-writer directory, then CAS-retries the
  // manifest claim until it lands (pure appends never semantically
  // conflict — the rebase is "current lines + mine"). This is what a
  // shared 100 TB table needs: ingest jobs from many clusters commit
  // without coordination, losers pay one metadata rename per retry (the
  // data files are never rewritten), and the link-CAS guarantees no
  // torn manifest and no lost commit. The requires pin the protocol —
  // four DISTINCT contiguous versions, and the per-version deltas are
  // exactly the four slices (no row lost, duplicated, or cross-wired);
  // the final aggregate must hash-equal a plain recompute over orders.
  def optimisticWriters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q345", dir)
    import graft.sources.ManifestTable
    val rows = Tables(s, dir).orders
      .select($"o_orderkey", $"o_orderpriority",
        round($"o_totalprice" * 100).cast("long").as("cents"))
    val nWriters = 4
    val sliceCounts = (0 until nWriters)
      .map(i => rows.filter($"o_orderkey" % nWriters === i).count()).sorted
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nWriters)
    val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val versions =
      try {
        val futs = (0 until nWriters).map { i =>
          Future(ManifestTable.appendOptimistic(
            rows.filter($"o_orderkey" % nWriters === i), out))(ec)
        }
        futs.map(Await.result(_, 5.minutes))
      } finally pool.shutdown()
    require(versions.toSet == (1 to nWriters).toSet,
      s"q345: $nWriters contending appends must land at versions 1..$nWriters, got $versions")
    val counts = (0 to nWriters).map(v =>
      if (v == 0) 0L else ManifestTable.read(s, out, v).count())
    val deltas = counts.sliding(2).map(p => p(1) - p(0)).toSeq.sorted
    require(deltas == sliceCounts,
      s"q345: per-version deltas must be exactly the writer slices ($deltas vs $sliceCounts)")
    ManifestTable.read(s, out)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
      .orderBy($"o_orderpriority")
  }

  // q347: METADATA-ONLY AGGREGATES — COUNT(*) / MIN / MAX answered from
  // the manifest alone. Every commit already stores each file's footer
  // row count (`__rows`) and per-column min/max in its manifest line, so
  // the three canonical planner aggregates fold over O(|manifest|)
  // strings with ZERO data-file IO — on a 100 TB table, an instant
  // answer vs a full scan (Iceberg's count-from-manifests / DSv2
  // aggregate-pushdown contract). The contract is honestly partial and
  // the face pins every edge: position deletes are EXACT-COUNT erasures
  // so COUNT(*) keeps answering (Σ data __rows − Σ pos __rows, still
  // zero IO; r10 session 3), min/max refuses while any delete is
  // visible (the extremum may be erased), equality deletes refuse count
  // outright (match cardinality unknowable without IO), and after
  // compaction purges the deletes physically the full O(1) answers come
  // back (require(Some)). Both emitted stages are computed purely from
  // metadata; the oracle recomputes them relationally, so a single stale
  // or wrong stat breaks the hash.
  def metadataAggregates(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q347", dir)
    import graft.sources.ManifestTable
    val rows = Tables(s, dir).orders
      .select($"o_orderkey",
        round($"o_totalprice" * 100).cast("long").as("cents"),
        datediff($"o_orderdate".cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("d"),
        year($"o_orderdate").as("y"))
    Seq(1995 to 1996, 1997 to 1998, 1999 to 2001).zipWithIndex.foreach {
      case (ys, i) =>
        ManifestTable.commit(
          rows.filter($"y".isin(ys: _*)).drop("y"), out, append = i > 0)
    }
    def meta(stage: String): Seq[Any] = {
      val n = ManifestTable.countStar(out)
        .getOrElse(sys.error(s"q347 $stage: metadata count must be available"))
      val Seq((loC, hiC), (loD, hiD)) = Seq("cents", "d").map(c =>
        ManifestTable.statsMinMax(out, c)
          .getOrElse(sys.error(s"q347 $stage: metadata min/max($c) missing")))
      Seq(stage, n, loC.toLong, hiC.toLong, loD.toLong, hiD.toLong)
    }
    val full = meta("1_append_only")
    val erased = rows.filter($"cents" % 100 < 10).count()
    ManifestTable.deleteWhere(s, out, $"cents" % 100 < 10)
    // position deletes are exact-count erasures: COUNT(*) stays a
    // zero-IO metadata answer (Σ data __rows − Σ pos __rows; r10
    // session 3 — previously an outright refusal), while min/max still
    // refuses (the erased rows may have held the extremum)
    require(ManifestTable.countStar(out)
      .contains(full(1).asInstanceOf[Long] - erased),
      "q347: metadata COUNT(*) under position deletes must answer exactly")
    require(ManifestTable.statsMinMax(out, "cents").isEmpty,
      "q347: min/max must refuse while deletes are visible")
    ManifestTable.compact(s, out, 4)
    val compacted = meta("3_compacted")
    Seq(full, compacted)
      .map { case Seq(st: String, a: Long, b: Long, c: Long, dd: Long, e: Long) =>
        (st, a, b, c, dd, e) }
      .toDF("stage", "n_rows", "min_cents", "max_cents", "min_day", "max_day")
      .orderBy($"stage")
  }

  // q348: the SQL CATALOG face — the lakehouse stack reachable from pure
  // SQL, no library calls in query code. `GraftCatalog` registers as a
  // DSv2 TableCatalog; CREATE TABLE / INSERT INTO / INSERT OVERWRITE /
  // SELECT … VERSION AS OF all resolve through it onto the SAME manifest
  // protocol every other face uses (INSERT = the q299 staged-write commit;
  // time travel = manifest-pinned reads). The 100 TB teeth: the catalog's
  // scan builder intercepts the pushed WHERE conjuncts and prunes whole
  // files against manifest min/max stats BEFORE any parquet footer is
  // opened — require-pinned here via inputFiles (1 of 3 year-clustered
  // files for the 1996 window). Three year-sliced INSERTs make v1..v3,
  // an INSERT OVERWRITE makes v4; every stage is read back through SQL
  // and hash-checked against the oracle's relational recompute.
  def sqlCatalog(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q348", dir)
    s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat.warehouse", out)
    Tables(s, dir).orders
      .select($"o_orderkey", $"o_orderpriority",
        round($"o_totalprice" * 100).cast("long").as("cents"),
        datediff($"o_orderdate".cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("d"),
        year($"o_orderdate").as("y"))
      .createOrReplaceTempView("q348_src")
    s.sql("DROP TABLE IF EXISTS graft_cat.db.orders_t")
    s.sql("""CREATE TABLE graft_cat.db.orders_t
            |(o_orderkey BIGINT, o_orderpriority STRING, cents BIGINT, d BIGINT)
            |""".stripMargin)
    (1995 to 1997).foreach { y =>
      s.sql(s"""INSERT INTO graft_cat.db.orders_t
               |SELECT /*+ REPARTITION(1) */ o_orderkey, o_orderpriority, cents, d
               |FROM q348_src WHERE y = $y""".stripMargin)
    }
    import graft.sources.ManifestTable
    val tblDir = s"$out/db/orders_t"
    require(ManifestTable.currentVersion(tblDir) == 3,
      "q348: three INSERT INTOs must land as manifest versions 1..3")
    // manifest-stats file pruning through a SQL WHERE: 1996 keeps 1/3 files
    val lo = java.time.LocalDate.of(1996, 1, 1).toEpochDay
    val hi = java.time.LocalDate.of(1996, 12, 31).toEpochDay
    val prunedDf = s.sql(
      s"SELECT * FROM graft_cat.db.orders_t WHERE d >= $lo AND d <= $hi")
    val scanned = graft.sources.v2.GraftCatalog.scannedFiles(prunedDf).length
    require(scanned == 1 && ManifestTable.fileCount(tblDir) == 3,
      s"q348: the 1996 window must prune to 1 of 3 year files, scanned $scanned")
    s.sql("""INSERT OVERWRITE graft_cat.db.orders_t
            |SELECT o_orderkey, o_orderpriority, cents, d
            |FROM q348_src WHERE y = 1997 AND o_orderkey % 2 = 0""".stripMargin)
    require(ManifestTable.currentVersion(tblDir) == 4,
      "q348: INSERT OVERWRITE must land as version 4")
    def agg(stage: String, from: String, where: String = "") = s.sql(
      s"""SELECT '$stage' AS stage, o_orderpriority,
         |  count(*) AS n_rows, sum(cents) AS total_cents
         |FROM $from $where GROUP BY o_orderpriority""".stripMargin)
    agg("1_first_year", "graft_cat.db.orders_t VERSION AS OF 1")
      .unionByName(agg("2_three_years", "graft_cat.db.orders_t VERSION AS OF 3"))
      .unionByName(agg("3_pruned_1996", "graft_cat.db.orders_t VERSION AS OF 3",
        s"WHERE d >= $lo AND d <= $hi"))
      .unionByName(agg("4_overwritten", "graft_cat.db.orders_t"))
      .orderBy($"stage", $"o_orderpriority")
  }

  // q349: BRANCHES + FAST-FORWARD — git semantics on the manifest table
  // (Iceberg branch refs). An experiment branch forks at main v1, takes
  // two append commits in its OWN manifest namespace (main provably never
  // sees them — require pins main's head and content untouched), is
  // audited as a whole lineage via readBranch, then fast-forwards: main
  // replays the branch manifests as versions fork+1…head under the same
  // link-CAS as every commit — ZERO data bytes move (the branch
  // pre-reserved its version numbers and data directories), divergence
  // aborts loudly, and every intermediate branch commit becomes a
  // time-travelable main version. This is the 100 TB collaboration
  // contract: long-running backfills and experiments write full-speed
  // without touching prod reads, and publishing is O(commits) metadata.
  // A second branch is dropped to pin the reclaim rule: only files NO
  // main manifest references are deleted. Every stage hash-checks
  // against the oracle's relational recompute.
  def branchesFastForward(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q349", dir)
    import graft.sources.ManifestTable
    val rows = Tables(s, dir).orders
      .select($"o_orderkey", $"o_orderpriority",
        round($"o_totalprice" * 100).cast("long").as("cents"),
        year($"o_orderdate").as("y"))
    ManifestTable.commit(rows.filter($"y" <= 1996).drop("y"), out, append = false)
    val fork = ManifestTable.createBranch(out, "exp")
    require(fork == 1, s"q349: branch must fork at v1, got v$fork")
    ManifestTable.commitToBranch(rows.filter($"y" === 1997).drop("y"), out, "exp")
    ManifestTable.commitToBranch(rows.filter($"y" === 1998).drop("y"), out, "exp")
    require(ManifestTable.currentVersion(out) == 1,
      "q349: branch commits must not advance main")
    val mainRows = ManifestTable.read(s, out).count()
    val headRows = ManifestTable.readBranch(s, out, "exp").count()
    require(headRows > mainRows,
      s"q349: branch head must carry the extra commits ($headRows vs $mainRows)")
    // a second, abandoned branch: its files reclaim; main's never do
    ManifestTable.createBranch(out, "dead")
    ManifestTable.commitToBranch(rows.filter($"y" === 2001).drop("y"), out, "dead")
    val reclaimed = ManifestTable.dropBranch(out, "dead")
    require(reclaimed > 0 && ManifestTable.read(s, out).count() == mainRows,
      "q349: dropBranch must reclaim only branch-exclusive files")
    def agg(stage: String, df: DataFrame) =
      df.groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
        .select(lit(stage).as("stage"), $"o_orderpriority", $"n_rows",
          $"total_cents")
    val before = agg("1_main_before", ManifestTable.read(s, out))
      .unionByName(agg("2_branch_head", ManifestTable.readBranch(s, out, "exp")))
    val head = ManifestTable.fastForward(out, "exp")
    require(head == 3 && ManifestTable.currentVersion(out) == 3,
      s"q349: fast-forward must replay the branch to main v3, got v$head")
    require(ManifestTable.read(s, out, 1).count() == mainRows,
      "q349: time travel to the pre-branch main must survive the fast-forward")
    before
      .unionByName(agg("3_main_after_ff", ManifestTable.read(s, out)))
      .orderBy($"stage", $"o_orderpriority")
  }

  // q399: CHERRY-PICK — selective publish onto a MOVED main (Iceberg's
  // cherrypick_snapshot), the verb for exactly the case q349's
  // fast-forward refuses by design: main advanced past the fork, or only
  // SOME branch commits should ship. An experiment branch takes three
  // append commits; main independently takes an equality DELETE (so
  // fastForward provably refuses — pinned); then branch commits are
  // picked OUT OF ORDER (v3 then v2), each landing as main's next
  // version with ZERO data bytes copied — the delta files are
  // hard-LINKED into a fresh nonce'd commit dir (inode equality
  // require-pinned), which simultaneously RE-SEQUENCES them: the
  // manifest sequence parses from the path, and main's pre-pick delete
  // (sequence 2) must not scope rows that land after it. The gate's
  // sharpest tooth: the delete's key set deliberately overlaps the
  // picked rows' keys — a re-sequencing bug (publishing the branch paths
  // verbatim) would silently erase those rows, moving n_rows/sum_k/sum_v
  // for grp 'b'. Branch lineage and pre-pick time travel pinned intact.
  // At 100 TB a cherry-pick is O(delta files) link(2) + one manifest
  // claim — promotion of a validated backfill slice costs no data IO.
  def cherryPickFace(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q399", dir)
    import graft.sources.ManifestTable
    val keys = Tables(s, dir).orders.select($"o_orderkey".cast("long").as("k"))
    def slice(m: Int, grp: String, mult: Int) =
      keys.filter($"k" % 10 === m)
        .select($"k", lit(grp).as("grp"), ($"k" * mult).as("v"))
    val baseRows = keys.filter($"k" % 10 < 5)
      .select($"k", lit("base").as("grp"), ($"k" * 2).as("v"))
    ManifestTable.commit(baseRows, out, append = false)           // main v1
    ManifestTable.createBranch(out, "exp")
    ManifestTable.commitToBranch(slice(5, "a", 3), out, "exp")    // branch v2
    ManifestTable.commitToBranch(slice(6, "b", 5), out, "exp")    // branch v3
    ManifestTable.commitToBranch(slice(7, "c", 7), out, "exp")    // branch v4
    // main moves past the fork: equality delete at sequence 2 whose key
    // set OVERLAPS the yet-unpicked branch rows' keys
    ManifestTable.delete(
      keys.filter($"k" % 3 === 0).select($"k"), out, "k")         // main v2
    val ffRefused =
      try { ManifestTable.fastForward(out, "exp"); false }
      catch { case _: ManifestTable.CommitConflictException => true }
    require(ffRefused, "q399: fastForward must refuse a moved main")
    def dataDirs() = Option(new java.io.File(s"$out/data").listFiles())
      .toSeq.flatten.map(_.getName).toSet
    val preDirs = dataDirs()
    val v3 = ManifestTable.cherryPick(out, "exp", 3)              // pick 'b'
    require(v3 == 3, s"q399: first pick must land at main v3, got v$v3")
    // zero-copy pin: every picked file shares its INODE with the branch
    // original (hard link, not a byte copy)
    val pickDir = (dataDirs() -- preDirs).toSeq match {
      case Seq(one) => one
      case other => sys.error(s"q399: expected one new commit dir, got $other")
    }
    val branchV3Dir = preDirs.filter(_.startsWith("commit-3-"))
      .headOption.getOrElse(sys.error("q399: branch commit-3 dir missing"))
    import java.nio.file.attribute.BasicFileAttributes
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    Option(new java.io.File(s"$out/data/$pickDir").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        val a = JFiles.readAttributes(f.toPath, classOf[BasicFileAttributes]).fileKey
        val b = JFiles.readAttributes(
          JPaths.get(s"$out/data/$branchV3Dir/${f.getName}"),
          classOf[BasicFileAttributes]).fileKey
        require(a == b, s"q399: ${f.getName} must be a hard link of the branch file")
      }
    val v4 = ManifestTable.cherryPick(out, "exp", 2)              // pick 'a' (out of order)
    require(v4 == 4, s"q399: second pick must land at main v4, got v$v4")
    // the sequencing tooth: picked rows whose keys sit in the v2 delete
    // file must SURVIVE (their sequence post-dates the delete's)
    require(ManifestTable.read(s, out)
        .filter($"grp" === "b" && $"k" % 3 === 0).count() > 0,
      "q399: picked rows must not be scoped by the pre-pick equality delete")
    // branch lineage and pre-pick time travel intact
    val branchN = ManifestTable.readBranch(s, out, "exp").count()
    val expectN = baseRows.count() +
      slice(5, "a", 3).count() + slice(6, "b", 5).count() + slice(7, "c", 7).count()
    require(branchN == expectN,
      s"q399: branch head must be untouched by the picks ($branchN vs $expectN)")
    require(ManifestTable.read(s, out, 1)
        .filter($"grp" =!= "base").isEmpty,
      "q399: time travel to v1 must still serve the pre-branch base")
    ManifestTable.read(s, out)
      .groupBy($"grp")
      .agg(count(lit(1)).as("n_rows"), sum($"k").as("sum_k"), sum($"v").as("sum_v"))
      .orderBy($"grp")
  }

  // q400: ROW PROVENANCE — "which commit wrote this row?" answered for
  // every LIVE row of the snapshot with ZERO extra IO: the scan's free
  // `_metadata.file_path` column joins the manifest's file→sequence map
  // (driver-held, |files| rows, broadcast). The audit face every
  // regulated pipeline needs — attribute a bad record to its ingest
  // batch WITHOUT a lineage column baked into the data (which upstream
  // can forge and backfills must rewrite). Three year-sliced appends +
  // one equality DELETE build the table; provenance must map every
  // surviving row to exactly its ingest commit, with the MoR delete
  // changing membership but never provenance. Require-pins: no NULL
  // provenance, and the provenance column agrees with the year slicing
  // row-for-row (the oracle recomputes the commit assignment
  // relationally). Honesty contract documented on the verb: compaction/
  // CoW re-stamp the rows they rewrite — the change feed is the ledger
  // across rewrites; this face keeps data files untouched so file
  // sequence IS ingest identity. At 100 TB: the map is manifest-sized,
  // the join broadcast, the scan unchanged — provenance costs nothing.
  def rowProvenance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q400", dir)
    import graft.sources.ManifestTable
    val rows = Tables(s, dir).orders
      .select($"o_orderkey".cast("long").as("k"), year($"o_orderdate").as("y"))
    ManifestTable.commit(rows.filter($"y" <= 1996).drop("y"), out, append = false) // v1
    ManifestTable.commit(rows.filter($"y" === 1997).drop("y"), out, append = true) // v2
    ManifestTable.commit(rows.filter($"y" === 1998).drop("y"), out, append = true) // v3
    ManifestTable.delete(rows.filter($"k" % 7 === 0).select($"k"), out, "k")       // v4
    val pv = ManifestTable.readWithProvenance(s, out)
    require(pv.filter($"_commit_version".isNull).isEmpty,
      "q400: every live row must carry its ingest commit")
    require(pv.count() == ManifestTable.read(s, out).count(),
      "q400: provenance must not change snapshot membership")
    pv.groupBy($"_commit_version".cast("long").as("commit_version"))
      .agg(count(lit(1)).as("n_rows"), sum($"k").as("sum_k"))
      .orderBy($"commit_version")
  }

  // q401: ZERO-COPY CLONE — an instant dev/test copy of a live table
  // (Delta SHALLOW CLONE, but dangle-proof): `cloneTable` hard-links
  // every data and equality-delete file into the clone's own roots
  // (inode-shared, zero data bytes copied — nlink ≥ 2 require-pinned),
  // preserves equality-delete sequence scoping by mirroring each file's
  // commit-<seq> dir, and re-points POSITION-delete rows at the linked
  // paths (the one physical rewrite — O(|pos-delete rows|), merged into
  // one clone-owned file per the q395 unscoped-union argument). The
  // gate then proves full INDEPENDENCE in both directions: source
  // appends don't move the clone, clone appends don't move the source —
  // and the dangle-proof claim gets the adversarial treatment: the
  // source COMPACTS, EXPIRES to depth 1, and VACUUMS with zero grace
  // (physically deleting every pre-compaction source path), after which
  // the clone must still read bit-identically — the linked inodes, not
  // the source paths, own the bytes. A path-referencing shallow clone
  // dies exactly there. At 100 TB: O(files) link(2) + one manifest
  // claim; the hot use is fearless staging-env copies of prod.
  def zeroCopyClone(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q401", dir)
    import graft.sources.ManifestTable
    val (src, dst) = (s"$out/src", s"$out/clone")
    val rows = Tables(s, dir).orders
      .select($"o_orderkey".cast("long").as("k"), year($"o_orderdate").as("y"))
    ManifestTable.commit(rows.filter($"y" <= 1996).drop("y")
      .withColumn("grp", lit("v1")), src, append = false)                  // v1
    ManifestTable.commit(rows.filter($"y" === 1997).drop("y")
      .withColumn("grp", lit("v2")), src, append = true)                   // v2
    ManifestTable.delete(rows.filter($"k" % 5 === 0).select($"k"), src, "k") // v3 eq-delete
    ManifestTable.deleteWhere(s, src, col("k") % 11 === 0)                 // v4 pos-delete
    val srcBefore = ManifestTable.read(s, src).localCheckpoint()
    val cloneV = ManifestTable.cloneTable(s, src, dst)
    // head = max cloned sequence (4: two appends + two delete rounds) so
    // the clone's own commits sequence PAST the cloned deletes
    require(cloneV == 4, s"q401: clone head must claim the max cloned seq, got v$cloneV")
    val cloneRead = ManifestTable.read(s, dst)
    require(Relational.bagDiff(cloneRead, srcBefore).isEmpty,
      "q401: the clone must read bit-identically to the cloned snapshot")
    // zero-copy pin: every clone parquet except the ONE rewritten
    // position-delete file shares its inode with a source file
    val cloneParquets = Option(new java.io.File(s"$dst/data").listFiles())
      .toSeq.flatten.flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .filter(_.getName.endsWith(".parquet"))
    val linked = cloneParquets.count { f =>
      java.nio.file.Files.getAttribute(f.toPath, "unix:nlink")
        .asInstanceOf[Integer] >= 2 }
    require(cloneParquets.nonEmpty && linked == cloneParquets.size - 1,
      s"q401: expected all but one clone file hard-linked " +
        s"($linked of ${cloneParquets.size})")
    // independence, both directions
    ManifestTable.commit(rows.filter($"y" === 1998).drop("y")
      .withColumn("grp", lit("src_add")), src, append = true)
    require(ManifestTable.read(s, dst).count() == srcBefore.count(),
      "q401: a source append must not move the clone")
    ManifestTable.commit(rows.filter($"y" === 1998).drop("y")
      .withColumn("grp", lit("clone_add")), dst, append = true)
    require(ManifestTable.read(s, src)
        .filter($"grp" === "clone_add").isEmpty,
      "q401: a clone append must not move the source")
    // the dangle-proof tooth: source compacts, expires, vacuums — every
    // pre-compaction source PATH is physically gone, clone still reads
    ManifestTable.compact(s, src, 2)
    ManifestTable.expire(src, keep = 1)
    ManifestTable.vacuum(src, graceMs = 0)
    val cloneAfter = ManifestTable.read(s, dst)
      .filter($"grp" =!= "clone_add")
    require(Relational.bagDiff(cloneAfter, srcBefore).isEmpty,
      "q401: the clone must survive source compact+expire+vacuum bit-identically")
    ManifestTable.read(s, dst)
      .groupBy($"grp")
      .agg(count(lit(1)).as("n_rows"), sum($"k").as("sum_k"))
      .orderBy($"grp")
  }

  // q404: CLONE CATCH-UP — the re-sync loop that makes q401's clone a
  // maintainable REPLICA instead of a one-shot copy: `syncClone` replays
  // the source's commits since the clone's sync point through the change
  // feed, one clone commit per source version, deletes before inserts
  // within a version. Moved rows only — a nightly refresh of a 100 TB
  // clone is O(day's delta), never a re-clone. The gate's ordering
  // tooth: after the clone, the source DELETES k%4=0 and then
  // RE-APPENDS the k%8=0 subset with different payloads — an apply that
  // batches all inserts before all deletes (or dedups events across
  // versions) erases the re-inserted rows or revives dead ones, and the
  // oracle's relational replay catches either. Pinned: re-synced clone
  // ≡ source head row-for-row (both exceptAll directions), the
  // re-inserted keys carry the NEW payload, and the clone's replayed
  // history is itself time-travelable (its pre-sync snapshot intact).
  def cloneCatchup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q404", dir)
    import graft.sources.ManifestTable
    val (src, dst) = (s"$out/src", s"$out/clone")
    val keys = Tables(s, dir).orders.select($"o_orderkey".cast("long").as("k"))
    def slice(ms: Seq[Int], mult: Int) =
      keys.filter(($"k" % 10).isin(ms.map(Int.box): _*))
        .select($"k", ($"k" * mult).as("cents"))
    ManifestTable.commit(slice(Seq(0, 1, 2, 3), 2), src, append = false)  // v1
    ManifestTable.commit(slice(Seq(4, 5), 2), src, append = true)         // v2
    val syncedAt = ManifestTable.currentVersion(src)
    val cloneV0 = ManifestTable.cloneTable(s, src, dst)
    // the source moves on: append, delete, RE-APPEND a deleted subset
    ManifestTable.commit(slice(Seq(6, 7), 2), src, append = true)         // v3
    ManifestTable.delete(keys.filter($"k" % 4 === 0).select($"k"), src, "k") // v4
    ManifestTable.commit(
      keys.filter($"k" % 8 === 0).select($"k", ($"k" * 9).as("cents")),
      src, append = true)                                                 // v5
    val head = ManifestTable.syncClone(s, src, dst, syncedAt, "k")
    require(head > cloneV0, s"q404: catch-up must advance the clone ($cloneV0 -> $head)")
    val a = ManifestTable.read(s, src)
    val b = ManifestTable.read(s, dst)
    require(Relational.bagDiff(b, a).isEmpty,
      "q404: the re-synced clone must equal the source head row-for-row")
    // k = 0 is excluded from the payload probes: 0·2 = 0·9, so it cannot
    // distinguish old from new payload (membership is still hash-checked)
    require(b.filter($"k" % 8 === 0 && $"k" =!= 0 &&
        $"cents" === $"k" * 9).count() > 0 &&
      b.filter($"k" % 8 === 0 && $"k" =!= 0 && $"cents" === $"k" * 2).isEmpty,
      "q404: re-inserted keys must carry the NEW payload only (apply order)")
    // the clone's own pre-sync snapshot stays time-travelable
    require(ManifestTable.read(s, dst, cloneV0).count() ==
      slice(Seq(0, 1, 2, 3, 4, 5), 2).count(),
      "q404: the pre-sync clone snapshot must survive the replay")
    b.groupBy(($"k" % 10).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
      .orderBy($"bucket")
  }

  // q405: BIN-PACK COMPACTION — the steady-state maintenance verb plain
  // compact is too blunt for: after an append-heavy week a 100 TB table
  // has a few GB of streaming-sized stragglers, and rewriting 100 TB to
  // fix them is absurd. `compactSmall` merges ONLY files under the
  // size threshold and carries every large file's manifest line VERBATIM
  // — write amplification bounded by the small-file bytes alone
  // (require-pinned: the big commit's file PATHS are byte-identical
  // strings in the post-compaction manifest, so not one big byte moved).
  // Published as a dataChange=false rewrite: the change feed across it
  // emits ZERO events (pinned), exactly like compact/zorder.
  // DELETE-TOLERANT (r13): the small subset reads MERGE-ON-READ, so
  // outstanding deletes materialize into the merged output while
  // equality-delete lines carry verbatim (they still scope the untouched
  // large files) and position-delete lines reconcile — pinned below by a
  // second binpack round under BOTH delete kinds with content identity
  // and big-file delete scoping checked. Zero-IO COUNT(*) stays exact
  // across the delete-free merge; the pre-compaction snapshot stays
  // time-travelable.
  def binpackCompact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q405", dir)
    import graft.sources.ManifestTable
    val rows = Tables(s, dir).orders
      .select($"o_orderkey".cast("long").as("k"),
        round($"o_totalprice" * 100).cast("long").as("cents"),
        $"o_orderpriority".as("pri"))
    ManifestTable.commit(rows.filter($"k" % 10 < 8).repartition(2),
      out, append = false)                                            // v1: two BIG files
    Seq(8, 9, 18, 19, 28, 38).foreach { m =>                          // v2..v7: six tiny files
      ManifestTable.commit(rows.filter($"k" % 100 === m).coalesce(1),
        out, append = true)
    }
    val preV = ManifestTable.currentVersion(out)
    val preCount = ManifestTable.countStar(out)
    require(preCount.isDefined, "q405: zero-IO count must hold pre-merge")
    val bigPaths = ManifestTable.filesTable(s, out)
      .filter($"seq" === 1).select($"path").as[String].collect().toSet
    require(bigPaths.size == 2, s"q405: expected 2 big files, got ${bigPaths.size}")
    val nBefore = ManifestTable.filesTable(s, out).count()
    // scale-relative threshold: the tiny commits are ~2.5% of a big
    // file's rows at ANY sf, so half the smallest big file cleanly
    // separates the classes (a fixed byte count would misclassify at 10×)
    val smallBytes = bigPaths.map(p => new java.io.File(p).length()).min / 2
    val v = ManifestTable.compactSmall(s, out, smallBytes)
    require(v == preV + 1, s"q405: binpack must commit v${preV + 1}, got v$v")
    val after = ManifestTable.filesTable(s, out)
    // the big files carried VERBATIM — identical path strings, no rewrite
    require(after.filter($"path".isin(bigPaths.toSeq: _*)).count() == 2,
      "q405: big files must carry into the new manifest byte-identically")
    require(after.count() < nBefore && after.count() == 3,
      s"q405: 6 small files must merge to 1 (got ${after.count()} entries)")
    require(ManifestTable.countStar(out) == preCount,
      "q405: zero-IO COUNT(*) must be exact across the merge")
    // a dataChange=false rewrite: the feed across it emits nothing
    require(ManifestTable.changeFeed(s, out, preV, v).isEmpty,
      "q405: the binpack commit must be invisible to change feeds")
    // content identity with the pre-compaction snapshot
    val a = ManifestTable.read(s, out, preV)
    val b = ManifestTable.read(s, out)
    require(Relational.bagDiff(b, a).isEmpty,
      "q405: binpack must not change table content")
    // ROUND 2 (r13): binpack on a DELETE-CARRYING snapshot. Two more
    // tiny appends, then both delete kinds: an equality delete (erases
    // from big AND small data committed before it) and a position
    // delete. The MoR binpack must materialize the deletes into the
    // merged output, carry the equality line for the untouched big
    // files, reconcile the position line, and leave content
    // bit-identical — the pre-r13 verb refused here outright.
    Seq(48, 58).foreach { m =>
      ManifestTable.commit(rows.filter($"k" % 100 === m).coalesce(1),
        out, append = true)
    }
    ManifestTable.delete(
      rows.filter($"k" % 100 === 18).select($"k"), out, "k")   // equality
    ManifestTable.deleteWhere(s, out, $"k" % 100 === 48)       // position
    val preV2 = ManifestTable.currentVersion(out)
    val a2 = ManifestTable.read(s, out, preV2)
    val v2 = ManifestTable.compactSmall(s, out, smallBytes)
    require(v2 == preV2 + 1, s"q405: delete-tolerant binpack must commit, got v$v2")
    val b2 = ManifestTable.read(s, out)
    require(Relational.bagDiff(b2, a2).isEmpty,
      "q405: delete-tolerant binpack must not change table content")
    require(b2.filter($"k" % 100 === 18 || $"k" % 100 === 48).isEmpty,
      "q405: deleted rows must stay deleted across the MoR merge")
    val after2 = ManifestTable.filesTable(s, out)
    require(after2.filter($"path".isin(bigPaths.toSeq: _*)).count() == 2,
      "q405: big files must carry verbatim through the delete-tolerant merge")
    require(ManifestTable.changeFeed(s, out, preV2, v2).isEmpty,
      "q405: the delete-tolerant binpack must stay feed-invisible")
    b2.groupBy($"pri")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
      .orderBy($"pri")
  }

  // q409: SCD2 HISTORY FROM THE CHANGE FEED — q90 builds SCD2 from a
  // staged batch, q260 folds a changelog; this face makes the validity
  // history a DOWNSTREAM MATERIALIZATION of the versioned dim's change
  // feed (the q354/q391/q392 contract applied to warehouse modeling):
  // each feed version's delete events CLOSE the touched keys' current
  // rows (valid_to = version), insert events OPEN new ones (valid_from =
  // version) — a keyed-merge commit emits both, which is exactly one
  // SCD2 transition. History text never re-read; per refresh the work
  // is O(|delta| + |open rows touched|). The pin is the SCD2 correctness
  // statement itself, require-checked at EVERY version: the interval
  // table must reconstruct each historical snapshot exactly
  // (valid_from <= v < valid_to ≡ read AS OF v, both exceptAll
  // directions) — one drifted interval breaks some version. The oracle
  // recomputes the interval algebra relationally (per-key event list,
  // lead() for closure, the delete horizon as the final valid_to).
  def cdfScd2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q409", dir)
    import graft.sources.ManifestTable
    val keys = Tables(s, dir).customer
      .select($"c_custkey".cast("long").as("k"))
    ManifestTable.commit(keys.select($"k", ($"k" * 2).as("v")),
      out, append = false)                                              // v1
    ManifestTable.merge(keys.filter($"k" % 5 === 0)
      .select($"k", ($"k" * 3).as("v")), out, "k")                      // v2 update
    ManifestTable.merge(keys.filter($"k" % 3 === 0)
      .select($"k", ($"k" * 7).as("v")), out, "k")                      // v3 update
    ManifestTable.delete(keys.filter($"k" % 11 === 0).select($"k"),
      out, "k")                                                         // v4 delete
    var hist = ManifestTable.read(s, out, 1)
      .select($"k", $"v", lit(1L).as("valid_from"),
        lit(null).cast("long").as("valid_to"))
    (2 to ManifestTable.currentVersion(out)).foreach { ver =>
      val feed = ManifestTable.changeFeed(s, out, ver - 1, ver)
        .localCheckpoint()
      val del = feed.filter($"_change_type" === "delete")
        .select($"k").distinct().withColumn("_d", lit(1))
      val ins = feed.filter($"_change_type" === "insert")
        .select($"k", $"v", lit(ver.toLong).as("valid_from"),
          lit(null).cast("long").as("valid_to"))
      hist = hist.join(del, Seq("k"), "left")
        .withColumn("valid_to",
          when($"valid_to".isNull && $"_d" === 1, ver.toLong)
            .otherwise($"valid_to"))
        .drop("_d")
        .unionByName(ins)
        .localCheckpoint()
    }
    // the SCD2 correctness statement, checked at EVERY version — the
    // per-version proofs read only the checkpointed hist + immutable
    // snapshots, so they overlap on the scheduler (guide §2.6)
    Relational.inParallel((1 to ManifestTable.currentVersion(out)).map { v =>
      () => {
        val fromHist = hist
          .filter($"valid_from" <= v && ($"valid_to".isNull || $"valid_to" > v))
          .select($"k", $"v")
        val snap = ManifestTable.read(s, out, v).select($"k", $"v")
        require(Relational.bagDiff(fromHist, snap).isEmpty,
          s"q409: the interval table must reconstruct snapshot v$v exactly")
      }
    })
    hist.orderBy($"k", $"valid_from")
  }

  // q412: SCD2 AT ITS CLAIMED BOUND (r13) — q409 proves the interval
  // algebra as a change-feed materialization, but its refresh folds each
  // delta into the WHOLE history frame: an O(|hist|) pass per refresh,
  // which on a 100 TB dimension history is exactly the rescan IVM
  // exists to avoid. This face maintains the history as TWO keyed
  // manifest tables: an OPEN-rows table keyed by k (the working state —
  // |live keys| rows, the only state a refresh reads) and an APPEND-ONLY
  // closed-intervals table that is never read again once written. A
  // refresh is then: feed (O(|delta|)) → close the TOUCHED keys' open
  // rows (one key-pruned semi join against the open table, appended to
  // closed) → equality-delete the touched keys from open + append the
  // delta's new opens (the keyed-merge commit shape: O(|delta|), zero
  // target IO). Pinned: (a) the same per-version reconstruction battery
  // as q409 — the split state must reconstruct EVERY historical snapshot
  // exactly, including a key deleted and later RE-INSERTED (two disjoint
  // validity intervals, the case a drifted open-set maintenance breaks
  // first); (b) THE DELTA PIN — each refresh's closing set is bounded by
  // the delta's touched keys (never more state read than keys touched),
  // and the closed table survives `changes()`, which THROWS on any
  // rewrite or delete: history was only ever extended, never rescanned
  // into a rewrite. The oracle recomputes the interval algebra
  // relationally (per-key event list, lead() closure, delete horizon,
  // reopen after delete). r14 composition upgrades: (1) the open table
  // is KEY-CLUSTERED (range-partitioned on k) and every CLOSE scan is
  // stats-bounded to the delta's key range — the narrow v6 refresh
  // require-pins the file-skip; (2) a delete-tolerant BINPACK runs on
  // the open table MID-BATTERY (content carried bit-exactly,
  // require-pinned) and the refresh loop continues from the compacted
  // state — maintenance cadence and refresh cadence decoupled, the
  // closed table's append-only pin surviving both.
  def scd2Keyed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q412", dir)
    import graft.sources.ManifestTable
    val (src, open, closed) = (s"$out/src", s"$out/open", s"$out/closed")
    val keys = Tables(s, dir).customer
      .select($"c_custkey".cast("long").as("k"))
    // source history: init, two updates, a delete, a RE-INSERT of
    // deleted keys (k%18=0 ⊂ k%9=0, so every v5 key was closed at v4)
    ManifestTable.commit(keys.select($"k", ($"k" * 2).as("v")),
      src, append = false)                                              // v1
    ManifestTable.merge(keys.filter($"k" % 4 === 0)
      .select($"k", ($"k" * 3).as("v")), src, "k")                      // v2
    ManifestTable.merge(keys.filter($"k" % 6 === 0)
      .select($"k", ($"k" * 7).as("v")), src, "k")                      // v3
    ManifestTable.delete(keys.filter($"k" % 9 === 0).select($"k"),
      src, "k")                                                         // v4
    ManifestTable.merge(keys.filter($"k" % 18 === 0)
      .select($"k", ($"k" * 13).as("v")), src, "k")                     // v5
    ManifestTable.merge(keys.filter($"k" >= 100 && $"k" < 200)
      .select($"k", ($"k" * 17).as("v")), src, "k")                     // v6 narrow
    // open state initializes from the v1 snapshot, CLUSTERED on the key
    // (write.order on k): disjoint per-file k ranges make every
    // range-bounded refresh file-skippable
    ManifestTable.commit(ManifestTable.read(s, src, 1)
      .select($"k", $"v", lit(1L).as("valid_from"))
      .repartitionByRange(2, $"k"), open, append = false)
    def refresh(ver: Int): Unit = {
      val feed = ManifestTable.changeFeed(s, src, ver - 1, ver)
        .localCheckpoint()
      val touched = feed.select($"k").distinct().localCheckpoint()
      // one pass over the checkpointed feed folds the touch count, the
      // key bounds AND the insert gate (was: a count job plus a min/max
      // job plus an ins.isEmpty job per refresh; touched = distinct feed
      // keys, so countDistinct/min/max over the feed equal the same
      // aggregates over touched)
      val bnd = feed.agg(countDistinct($"k").as("n"),
        min($"k").as("lo"), max($"k").as("hi"),
        count(when($"_change_type" === "insert", 1)).as("ni")).head
      val nTouched = bnd.getLong(0)
      if (nTouched > 0) {
        // CLOSE: only the touched keys' open rows move — never the
        // closed history. The open scan is STATS-BOUNDED to the touched
        // key range (readWhere prunes on the manifest's per-file
        // min/max), so on the key-clustered open table a narrow delta
        // opens only the files its range intersects.
        val (lo, hi) = (bnd.getLong(1), bnd.getLong(2))
        if (ver == 6) {
          // the 100 TB pin: the narrow [100, 200) refresh must SKIP
          // open files outside its range — clustering + stats, proven,
          // not assumed
          val (kept, total) = ManifestTable.pruneInfo(open, "k",
            lo.toDouble, hi.toDouble)
          require(kept < total,
            s"q412: the range-bounded refresh must file-skip the " +
              s"clustered open table (kept $kept of $total files)")
        }
        val closing = ManifestTable.readWhere(s, open, "k",
            lo.toDouble, hi.toDouble)
          .join(broadcast(touched), Seq("k"), "left_semi")
          .withColumn("valid_to", lit(ver.toLong))
          .localCheckpoint()
        val nClosing = closing.count()
        require(nClosing <= nTouched,
          s"q412: refresh v$ver closed $nClosing rows for $nTouched touched " +
            "keys — state read beyond the delta's touch set")
        if (nClosing > 0)
          ManifestTable.commit(closing, closed,
            append = ManifestTable.currentVersion(closed) > 0): Unit
        // OPEN: the keyed-merge maintenance shape — equality-delete the
        // touched keys, append the delta's new opens; O(|delta|), zero
        // target IO
        ManifestTable.delete(touched, open, "k")
        val ins = feed.filter($"_change_type" === "insert")
          .select($"k", $"v", lit(ver.toLong).as("valid_from"))
        if (bnd.getLong(3) > 0)
          ManifestTable.commit(ins, open, append = true): Unit
      }
    }
    (2 to 3).foreach(refresh)
    // MAINTENANCE MID-BATTERY: the open table accumulates one MoR
    // delete chain per refresh — production compacts it on the same
    // cadence as any keyed table. Bin-pack the small files (the
    // refreshes' appends, under their equality-delete chains) while the
    // loop is mid-flight: content must carry bit-exactly, the LATER
    // refreshes continue from the compacted state, and the final
    // battery + the closed table's append-only pin prove nothing bent.
    val openBefore = ManifestTable.read(s, open).localCheckpoint()
    val bigMin = ManifestTable.filesTable(s, open)
      .filter($"seq" === 1).select($"path").as[String].collect()
      .map(p => new java.io.File(p).length()).min
    ManifestTable.compactSmall(s, open, (bigMin * 3) / 4): Unit
    val openAfter = ManifestTable.read(s, open)
    require(Relational.bagDiff(openBefore, openAfter).isEmpty,
      "q412: binpack on the open table must preserve its content exactly")
    (4 to ManifestTable.currentVersion(src)).foreach(refresh)
    // the append-only pin: changes() THROWS if any closed-table commit
    // rewrote or deleted — the history was only ever EXTENDED
    require(ManifestTable.changes(s, closed, 0).count() > 0,
      "q412: the closed-interval history must be non-empty and append-only")
    val hist = (ManifestTable.read(s, closed)
      .unionByName(ManifestTable.read(s, open)
        .withColumn("valid_to", lit(null).cast("long"))))
      .select($"k", $"v", $"valid_from", $"valid_to")
      .localCheckpoint()
    // q409's reconstruction battery, now over the SPLIT state — with the
    // reopen case in range. The per-version proofs are independent reads
    // over the checkpointed hist + immutable snapshots, so they run
    // concurrently (guide §2.6) instead of serializing six tiny jobs.
    Relational.inParallel((1 to ManifestTable.currentVersion(src)).map { v =>
      () => {
        val fromHist = hist
          .filter($"valid_from" <= v && ($"valid_to".isNull || $"valid_to" > v))
          .select($"k", $"v")
        val snap = ManifestTable.read(s, src, v).select($"k", $"v")
        require(Relational.bagDiff(fromHist, snap).isEmpty,
          s"q412: the split interval state must reconstruct snapshot v$v exactly")
      }
    })
    hist.orderBy($"k", $"valid_from", $"valid_to")
  }

  // q413: MAINTENANCE-TRANSPARENT REPLICATION (r13) — the composition
  // proof the round's marker work buys: a replica keeps syncing while
  // the source runs its FULL maintenance loop. Source history: a big
  // commit, a keyed merge, clone, two tiny appends, two position-delete
  // rounds, `rewrite_deletes`, a delete-tolerant binpack, one more
  // append. The tracked sync replays the feed version by version; the
  // two maintenance commits are dataChange=false rewrites, so they
  // contribute ZERO events and ZERO clone commits (require-pinned: the
  // clone head grows by exactly the number of ROW-LEVEL source
  // versions) — before r13's marker fix, ONE rewrite_deletes would have
  // made every spanning feed refuse and stranded all replicas. Clone ≡
  // source head require-pinned both exceptAll directions; the gate
  // output aggregates the REPLICA (the oracle recomputes the final
  // content relationally, so a mis-replayed delete, a phantom event
  // from a rewrite, or a lost re-insert all move the hash). At 100 TB:
  // each nightly sync moves O(day's rows); maintenance cadence and
  // replication cadence stay fully decoupled — the property production
  // replication actually needs.
  def maintenanceSync(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q413", dir)
    import graft.sources.ManifestTable
    val (src, dst) = (s"$out/src", s"$out/replica")
    val rows = Tables(s, dir).orders
      .select($"o_orderkey".cast("long").as("k"), $"o_orderpriority".as("pri"),
        ($"o_orderkey".cast("long") * 2).as("cents"))
    ManifestTable.commit(rows.filter($"k" % 10 < 8).repartition(2),
      src, append = false)                                              // v1 big
    ManifestTable.merge(rows.filter($"k" % 10 < 8 && $"k" % 7 === 0)
      .select($"k", $"pri", ($"k" * 5).as("cents")), src, "k")          // v2 keyed update
    ManifestTable.cloneTable(s, src, dst)
    ManifestTable.commit(rows.filter($"k" % 100 === 8).coalesce(1),
      src, append = true)                                               // v3 tiny
    ManifestTable.commit(rows.filter($"k" % 100 === 18).coalesce(1),
      src, append = true)                                               // v4 tiny
    ManifestTable.deleteWhere(s, src, $"k" % 13 === 0)                  // v5 pos-delete
    ManifestTable.deleteWhere(s, src, $"k" % 17 === 0)                  // v6 pos-delete
    // the maintenance loop: fold delete files, bin-pack the stragglers
    val (pb, pa) = ManifestTable.rewriteDeletes(s, src)                 // v7 rewrite
    require(pb >= 2 && pa == 1, s"q413: expected delete-file fold, got ($pb, $pa)")
    val bigMin = ManifestTable.filesTable(s, src)
      .filter($"seq" === 1).select($"path").as[String].collect()
      .map(p => new java.io.File(p).length()).min
    val v8 = ManifestTable.compactSmall(s, src, bigMin / 2)             // v8 binpack
    require(v8 == 8, s"q413: binpack must commit v8, got v$v8")
    ManifestTable.commit(rows.filter($"k" % 100 === 28).coalesce(1),
      src, append = true)                                               // v9 append
    // the replica syncs ONCE across the whole span — row-level versions
    // replay, maintenance versions contribute nothing
    val dstPre = ManifestTable.currentVersion(dst)
    ManifestTable.syncCloneTracked(s, dst, "k")
    val dstPost = ManifestTable.currentVersion(dst)
    // v3, v4, v9 insert; v5, v6 delete; v7, v8 NOTHING → exactly 5
    require(dstPost - dstPre == 5,
      s"q413: 5 row-level versions must replay as 5 clone commits " +
        s"(maintenance must contribute zero), got ${dstPost - dstPre}")
    val a = ManifestTable.read(s, src)
    val b = ManifestTable.read(s, dst)
    require(Relational.bagDiff(b, a).isEmpty,
      "q413: the replica must equal the source head across maintenance")
    b.groupBy($"pri")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
      .orderBy($"pri")
  }

  // q415: CDC-OUT TO A SERVING DATABASE (r13) — the reference's whole
  // pipeline ends in Postgres (spark_streaming.py:73-87: read the FULL
  // existing table, anti-join one key, append); this face is its
  // lake-native successor: the warehouse table IS the replayable stream
  // and the serving DB follows it by key through `JdbcIO.syncFromFeed` —
  // per source version, feed deletes apply as distributed
  // prepared-statement batches, feed inserts land through the J1
  // idempotent anti-join against the sink's PRUNED key scan (never the
  // full table — the reference's exact scale bug, fixed). Require-pinned:
  // a full REPLAY of the already-applied feed changes nothing (crash
  // recovery = re-run, no offset bookkeeping beyond the source version),
  // and the sink equals the source head row-for-row (both exceptAll
  // directions) across an update (keyed merge), a GDPR equality delete,
  // and a post-delete append whose re-used keys must survive. The gate
  // output aggregates the JDBC TABLE READ BACK (embedded Derby here —
  // the same engine the reference's psycopg2 DDL targets in production
  // is one URL away); the oracle recomputes the final serving state
  // relationally. At 100 TB: each sync moves O(day's rows) + one pruned
  // key scan (partitionable via readKeys), and table maintenance
  // (compact/binpack/rewrite_deletes) never disturbs the serving DB —
  // rewrite commits are feed-invisible.
  def cdcJdbc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q415", dir)
    import graft.sources.{JdbcIO, ManifestTable}
    val src = s"$out/src"
    val url = s"jdbc:derby:memory:q415_${ProcessHandle.current().pid()}_${System.nanoTime()};create=true"
    val props = JdbcIO.props("u", "p",
      driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      // PRIMARY KEY on the replication key is load-bearing, not
      // decoration: the CDC deletes are per-key prepared-statement
      // batches, and without an index each DELETE full-scans the sink —
      // O(|deletes| × |sink|) row touches (measured: a 12k-delete replay
      // into a 120k-row heap table serialized for 20+ minutes; with the
      // index it is seconds). Any real serving table is keyed anyway.
      try st.execute(
        "CREATE TABLE sink (k BIGINT PRIMARY KEY, pri VARCHAR(32), cents BIGINT)")
      finally st.close()
    } finally conn.close()
    val rows = Tables(s, dir).orders
      .select($"o_orderkey".cast("long").as("k"), $"o_orderpriority".as("pri"),
        ($"o_orderkey".cast("long") * 2).as("cents"))
    ManifestTable.commit(rows.filter($"k" % 10 < 8), src, append = false)  // v1
    ManifestTable.merge(rows.filter($"k" % 10 < 8 && $"k" % 7 === 0)
      .select($"k", $"pri", ($"k" * 5).as("cents")), src, "k")             // v2 update
    ManifestTable.delete(rows.filter($"k" % 11 === 0).select($"k"),
      src, "k")                                                            // v3 GDPR
    ManifestTable.commit(rows.filter($"k" % 10 === 8), src, append = true) // v4 append
    // initial load = the v1 snapshot; CDC replay carries the rest
    JdbcIO.append(ManifestTable.read(s, src, 1), url, "sink", props)
    val head = JdbcIO.syncFromFeed(s, src, url, "sink", "k", props,
      fromVersion = 1)
    require(head == 4, s"q415: sync must replay to the source head, got v$head")
    // idempotency: a FULL second replay of the applied feed is a no-op
    JdbcIO.syncFromFeed(s, src, url, "sink", "k", props, fromVersion = 1)
    val sink = JdbcIO.readTable(s, url, "sink", props)
      .toDF("k", "pri", "cents").select($"k", $"pri", $"cents")
      .localCheckpoint()
    val srcHead = ManifestTable.read(s, src).select($"k", $"pri", $"cents")
    require(Relational.bagDiff(sink, srcHead).isEmpty,
      "q415: the serving table must equal the source head after replay " +
        "(and stay equal after a duplicate replay)")
    sink.groupBy($"pri")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
      .orderBy($"pri")
  }

  // q416: MATERIALIZED-VIEW AUTOMATIC REWRITE (r13) — the engine-level
  // extension (injectPostHocResolutionRule) that serves a user's
  // UNCHANGED aggregate SQL from a precomputed manifest table when, and
  // only when, it is exact-match AND version-fresh. The lakehouse makes
  // staleness EXACT: registration records each dependency's manifest
  // version; the rule consults the current version (O(1)) and fails
  // CLOSED the moment the base advances — require-pinned here by the
  // complete lifecycle: (1) the definition query re-run verbatim is
  // served from the MV (hit counter + the MV path in the executed plan);
  // (2) a base INSERT makes the SAME query compute the NEW answer from
  // base (no stale serve — the bug class that makes teams distrust MV
  // systems); (3) refresh re-materializes and the query serves again,
  // row-identical to the from-base answer. The gate output is the final
  // served result; the oracle recomputes the aggregate over both
  // batches, so a stale serve or a mis-mapped rewrite projection moves
  // the hash. At 100 TB: the dashboard query that re-aggregated the
  // fact table every morning becomes a scan of |groups| rows, and the
  // version check costs one directory listing.
  def mvRewrite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q416", dir)
    import graft.sources.v2.GraftMaterializedViews
    s.conf.set("spark.sql.catalog.graft_cat416", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat416.warehouse", out)
    Tables(s, dir).orders
      .select($"o_orderkey".cast("long").as("k"), $"o_orderpriority".as("pri"),
        ($"o_orderkey".cast("long") * 2).as("cents"))
      .createOrReplaceTempView("q416_src")
    s.sql("DROP TABLE IF EXISTS graft_cat416.db.base")
    s.sql("CREATE TABLE graft_cat416.db.base (pri STRING, cents BIGINT)")
    s.sql("INSERT INTO graft_cat416.db.base " +
      "SELECT pri, cents FROM q416_src WHERE k % 10 < 8")
    val defSql = "SELECT pri, count(*) AS n_rows, sum(cents) AS total_cents " +
      "FROM graft_cat416.db.base GROUP BY pri"
    GraftMaterializedViews.register(s, "q416_mv", defSql,
      s"$out/db/_mv_pri", deps = Seq(s"$out/db/base"))
    val h0 = GraftMaterializedViews.hits("q416_mv")
    // (1) the verbatim query is served from the MV
    val q1 = s.sql(defSql + " ORDER BY pri")
    q1.collect(): Unit
    require(GraftMaterializedViews.hits("q416_mv") == h0 + 1,
      "q416: the exact-match query must be served from the MV")
    require(q1.queryExecution.executedPlan.toString.contains("_mv_pri"),
      "q416: the executed plan must scan the MV table")
    // (2) staleness fails CLOSED: after a base commit the same query
    // computes the new answer from base
    s.sql("INSERT INTO graft_cat416.db.base " +
      "SELECT pri, cents FROM q416_src WHERE k % 10 = 8")
    val q2 = s.sql(defSql + " ORDER BY pri").localCheckpoint()
    require(GraftMaterializedViews.hits("q416_mv") == h0 + 1,
      "q416: a stale MV must never be served")
    // (3) refresh re-arms; the served answer is row-identical to base's
    GraftMaterializedViews.refresh(s, "q416_mv")
    val q3 = s.sql(defSql + " ORDER BY pri").localCheckpoint()
    require(GraftMaterializedViews.hits("q416_mv") == h0 + 2,
      "q416: the refreshed MV must serve again")
    require(Relational.bagDiff(q3, q2).isEmpty,
      "q416: the MV-served answer must equal the from-base answer")
    GraftMaterializedViews.drop("q416_mv")
    q3.orderBy($"pri")
  }

  // q417: INCREMENTAL MV REFRESH (r13) — q416's registry closed with
  // the refresh shape a 100 TB base actually affords: `registerAgg`
  // declares the distributive shape (group keys + count + sums), and
  // `refreshIncremental` folds the base's CHANGE FEED since the
  // recorded version into the stored |groups| rows — insert events add,
  // delete events subtract, an update's delete+insert pair nets the
  // difference — one full-outer join, groups reaching zero dropped,
  // history never re-aggregated (the q100 partial-merge contract at
  // engine level, now feeding the automatic rewrite). Lifecycle
  // require-pinned: serve from the registered view; a keyed MERGE + a
  // GDPR delete + an append make it stale (no serve, fresh answer from
  // base); ONE incremental refresh re-arms the rewrite and the served
  // answer is row-identical to the from-base recompute — a drifted
  // counter (the IVM bug class), a missed delete event, or a surviving
  // zero-count group all break the identity or the oracle hash. At
  // 100 TB: refresh cost is O(day's rows + |groups|), rewrite decision
  // O(plan), serve O(|groups|).
  def mvIncremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q417", dir)
    import graft.sources.ManifestTable
    import graft.sources.v2.GraftMaterializedViews
    s.conf.set("spark.sql.catalog.graft_cat417", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat417.warehouse", out)
    val rows = Tables(s, dir).orders
      .select($"o_orderkey".cast("long").as("k"), $"o_orderpriority".as("pri"),
        ($"o_orderkey".cast("long") * 2).as("cents"))
    rows.createOrReplaceTempView("q417_src")
    s.sql("DROP TABLE IF EXISTS graft_cat417.db.base")
    s.sql("CREATE TABLE graft_cat417.db.base (k BIGINT, pri STRING, cents BIGINT)")
    s.sql("INSERT INTO graft_cat417.db.base " +
      "SELECT k, pri, cents FROM q417_src WHERE k % 10 < 8")
    val baseDir = s"$out/db/base"
    val defSql = GraftMaterializedViews.registerAgg(s, "q417_mv",
      "graft_cat417.db.base", baseDir, Seq("pri"), Seq("cents"),
      s"$out/db/_mv_inc")
    val h0 = GraftMaterializedViews.hits("q417_mv")
    s.sql(defSql + " ORDER BY pri").collect(): Unit
    require(GraftMaterializedViews.hits("q417_mv") == h0 + 1,
      "q417: the registered aggregate must serve from the MV")
    // the base moves on: keyed update, GDPR erasure, fresh ingest
    ManifestTable.merge(rows.filter($"k" % 10 < 8 && $"k" % 7 === 0)
      .select($"k", $"pri", ($"k" * 5).as("cents")), baseDir, "k")
    ManifestTable.delete(rows.filter($"k" % 11 === 0).select($"k"),
      baseDir, "k")
    ManifestTable.commit(rows.filter($"k" % 10 === 8), baseDir, append = true)
    val q2 = s.sql(defSql + " ORDER BY pri").localCheckpoint()
    require(GraftMaterializedViews.hits("q417_mv") == h0 + 1,
      "q417: the stale MV must not serve")
    // ONE incremental refresh: the feed folds into |groups| rows
    GraftMaterializedViews.refreshIncremental(s, "q417_mv")
    val q3 = s.sql(defSql + " ORDER BY pri").localCheckpoint()
    require(GraftMaterializedViews.hits("q417_mv") == h0 + 2,
      "q417: the incrementally refreshed MV must serve again")
    require(Relational.bagDiff(q3, q2).isEmpty,
      "q417: the incrementally maintained groups must equal the " +
        "from-base recompute (drifted-counter IVM bug class)")
    GraftMaterializedViews.drop("q417_mv")
    q3.orderBy($"pri")
  }

  // q418: JOIN-MV INCREMENTAL REFRESH (r14) — the star-schema dashboard
  // query (fact ⋈ dim, grouped on a DIM attribute) maintained from BOTH
  // bases' change feeds via the delta-join identity
  // Δ(F⋈D) = ΔF⋈D₀ ∪ F₀⋈ΔD ∪ ΔF⋈ΔD (every feed row signed ±1, a joined
  // row's sign the product of its sides') — q259's identity composed
  // into the MV registry, so the history join F₀⋈D₀ is NEVER recomputed
  // and a fact-only day never reads the fact snapshot at all. Lifecycle
  // require-pinned: serve; fact reprice + GDPR erasure + ingest AND a
  // dim re-homing make it stale (fails closed); ONE incremental refresh
  // re-arms and the served answer ≡ the from-base join recompute. The
  // dim re-homing is the hard leg: rows of re-homed dim keys must
  // MIGRATE between groups (F₀⋈ΔD nets −old +new per fact row), and the
  // fresh fact batch on a re-homed key must land in the NEW home only
  // (ΔF⋈D₀ + ΔF⋈ΔD cancel the old). At 100 TB: refresh cost is
  // O(|ΔF| ⋈ dim + |ΔD| ⋈ fact + |groups|) — the dim-delta leg probes
  // the fact with a broadcast of the day's dim changes — vs re-joining
  // the full fact every morning.
  def mvJoinIncremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.functions.lit
    val out = Scratch.dir("q418", dir)
    import graft.sources.ManifestTable
    import graft.sources.v2.GraftMaterializedViews
    s.conf.set("spark.sql.catalog.graft_cat418", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat418.warehouse", out)
    val rows = Tables(s, dir).orders
      .select($"o_orderkey".cast("long").as("k"),
        ($"o_orderkey".cast("long") % 50).as("jk"),
        ($"o_orderkey".cast("long") * 2).as("cents"))
    rows.createOrReplaceTempView("q418_fact_src")
    s.sql("DROP TABLE IF EXISTS graft_cat418.db.fact")
    s.sql("DROP TABLE IF EXISTS graft_cat418.db.dim")
    s.sql("CREATE TABLE graft_cat418.db.fact (k BIGINT, jk BIGINT, cents BIGINT)")
    s.sql("CREATE TABLE graft_cat418.db.dim (jk BIGINT, grp STRING)")
    s.sql("INSERT INTO graft_cat418.db.fact " +
      "SELECT k, jk, cents FROM q418_fact_src WHERE k % 10 < 8")
    s.sql("INSERT INTO graft_cat418.db.dim SELECT id AS jk, " +
      "CASE WHEN id % 5 = 0 THEN 'z' ELSE concat('g', CAST(id % 5 AS STRING)) " +
      "END AS grp FROM range(50)")
    val fDir = s"$out/db/fact"; val dDir = s"$out/db/dim"
    val defSql = GraftMaterializedViews.registerJoinAgg(s, "q418_mv",
      "graft_cat418.db.fact", fDir, "graft_cat418.db.dim", dDir, "jk",
      Seq("grp"), Seq("cents"), s"$out/db/_mv_star")
    val h0 = GraftMaterializedViews.hits("q418_mv")
    s.sql(defSql + " ORDER BY grp").collect(): Unit
    require(GraftMaterializedViews.hits("q418_mv") == h0 + 1,
      "q418: the registered star aggregate must serve from the MV")
    // both bases move on: fact reprice (k%7), GDPR erasure (k%11),
    // fresh ingest (k%10=8); dim re-homes every jk%10=3 key
    ManifestTable.merge(rows.filter($"k" % 10 < 8 && $"k" % 7 === 0)
      .select($"k", $"jk", ($"k" * 5).as("cents")), fDir, "k")
    ManifestTable.delete(rows.filter($"k" % 11 === 0).select($"k"),
      fDir, "k")
    ManifestTable.commit(rows.filter($"k" % 10 === 8), fDir, append = true)
    ManifestTable.merge(s.range(50).filter($"id" % 10 === 3)
      .select($"id".as("jk"), lit("moved").as("grp")), dDir, "jk")
    val q2 = s.sql(defSql + " ORDER BY grp").localCheckpoint()
    require(GraftMaterializedViews.hits("q418_mv") == h0 + 1,
      "q418: the stale star MV must not serve")
    GraftMaterializedViews.refreshIncremental(s, "q418_mv")
    val q3 = s.sql(defSql + " ORDER BY grp").localCheckpoint()
    require(GraftMaterializedViews.hits("q418_mv") == h0 + 2,
      "q418: the incrementally refreshed star MV must serve again")
    require(Relational.bagDiff(q3, q2).isEmpty,
      "q418: the delta-join-maintained groups must equal the from-base " +
        "join recompute (missed-migration / double-count IVM bug class)")
    GraftMaterializedViews.drop("q418_mv")
    q3.orderBy($"grp")
  }

  // q419: MIN/MAX MV REFRESH (r14) — the non-subtractable aggregate
  // shape: a delete can remove a group's extremum and the true
  // runner-up lives only in the base, so a signed feed fold is
  // structurally impossible. `refreshIncremental` instead re-aggregates
  // ONLY the TOUCHED groups (distinct group keys in the feed) from a
  // semi-join-pruned base scan and carries every untouched group's
  // stored row verbatim — at 100 TB the touched set is the day's active
  // groups, and with the base clustered on the group key the pruned
  // scan file-skips too; history is never re-aggregated for the
  // untouched (nearly all) groups. The face deletes each group's
  // CURRENT MAX row (per-group argmax — the adversarial delete), then
  // ingests a fresh batch; ONE refresh must recover the runner-up max
  // where the ingest didn't overtake it, admit the ingested extrema
  // where it did, and keep counts/sums exact — pinned ≡ the from-base
  // recompute and oracle-recomputed from scratch.
  def mvMinMax(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.functions.max
    val out = Scratch.dir("q419", dir)
    import graft.sources.ManifestTable
    import graft.sources.v2.GraftMaterializedViews
    s.conf.set("spark.sql.catalog.graft_cat419", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat419.warehouse", out)
    val rows = Tables(s, dir).orders
      .select($"o_orderkey".cast("long").as("k"), $"o_orderpriority".as("pri"),
        ($"o_orderkey".cast("long") * 2).as("cents"))
    rows.createOrReplaceTempView("q419_src")
    s.sql("DROP TABLE IF EXISTS graft_cat419.db.base")
    s.sql("CREATE TABLE graft_cat419.db.base (k BIGINT, pri STRING, cents BIGINT)")
    s.sql("INSERT INTO graft_cat419.db.base " +
      "SELECT k, pri, cents FROM q419_src WHERE k % 10 < 8")
    val baseDir = s"$out/db/base"
    val defSql = GraftMaterializedViews.registerAgg(s, "q419_mv",
      "graft_cat419.db.base", baseDir, Seq("pri"), Seq("cents"),
      s"$out/db/_mv_mm", minCols = Seq("cents"), maxCols = Seq("cents"))
    val h0 = GraftMaterializedViews.hits("q419_mv")
    s.sql(defSql + " ORDER BY pri").collect(): Unit
    require(GraftMaterializedViews.hits("q419_mv") == h0 + 1,
      "q419: the registered min/max aggregate must serve from the MV")
    // the adversarial delete: each group's current argmax (cents is
    // monotone in k, so max k per pri) — the runner-up max is base-only
    ManifestTable.delete(rows.filter($"k" % 10 < 8)
      .groupBy($"pri").agg(max($"k").as("k")).select($"k"), baseDir, "k")
    ManifestTable.commit(rows.filter($"k" % 10 === 8), baseDir, append = true)
    val q2 = s.sql(defSql + " ORDER BY pri").localCheckpoint()
    require(GraftMaterializedViews.hits("q419_mv") == h0 + 1,
      "q419: the stale min/max MV must not serve")
    GraftMaterializedViews.refreshIncremental(s, "q419_mv")
    val q3 = s.sql(defSql + " ORDER BY pri").localCheckpoint()
    require(GraftMaterializedViews.hits("q419_mv") == h0 + 2,
      "q419: the refreshed min/max MV must serve again")
    require(Relational.bagDiff(q3, q2).isEmpty,
      "q419: touched-group re-aggregation must equal the from-base " +
        "recompute (stale-extremum IVM bug class)")
    GraftMaterializedViews.drop("q419_mv")
    q3.orderBy($"pri")
  }

  // q422: CONTINUOUS MV MAINTENANCE ON THE STREAMING PATH (r14) — the
  // MV registry composed with the table-as-stream source the way a
  // production dashboard actually runs: an always-on maintainer wakes
  // on every new base commit (three AvailableNow runs over one
  // checkpoint — each drains exactly the new version, exercising the
  // resume path twice), folds the delta into the stored groups with
  // refreshIncremental inside foreachBatch, and BETWEEN triggers the
  // UNCHANGED dashboard SQL is require-pinned to (a) serve from the MV
  // (hit counter — a lagging or over-eager refresh breaks freshness and
  // the serve disappears) and (b) equal the from-base recompute at the
  // delivered version, both exceptAll directions. At 100 TB: the
  // dashboard pays O(|groups|) per render and the maintainer O(|day's
  // delta| + |groups|) per commit — the base is re-aggregated by
  // NOBODY. The oracle recomputes the final groups from all four
  // batches.
  def streamMv(s: SparkSession, dir: String): DataFrame =
    graft.streaming.ScratchCheckpoints.lean(s) {
    import s.implicits._
    import org.apache.spark.sql.functions.{count, lit, sum}
    val out = Scratch.dir("q422", dir)
    import graft.sources.ManifestTable
    import graft.sources.v2.GraftMaterializedViews
    s.conf.set("spark.sql.catalog.graft_cat422", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat422.warehouse", out)
    val rows = Tables(s, dir).orders
      .select($"o_orderkey".cast("long").as("k"), $"o_orderpriority".as("pri"),
        ($"o_orderkey".cast("long") * 2).as("cents"))
    rows.createOrReplaceTempView("q422_src")
    s.sql("DROP TABLE IF EXISTS graft_cat422.db.base")
    s.sql("CREATE TABLE graft_cat422.db.base (k BIGINT, pri STRING, cents BIGINT)")
    s.sql("INSERT INTO graft_cat422.db.base " +
      "SELECT k, pri, cents FROM q422_src WHERE k % 10 < 7")
    val baseDir = s"$out/db/base"
    val defSql = GraftMaterializedViews.registerAgg(s, "q422_mv",
      "graft_cat422.db.base", baseDir, Seq("pri"), Seq("cents"),
      s"$out/db/_mv_live")
    val tblSchema = ManifestTable.read(s, baseDir, 1).schema
    var prevHits = GraftMaterializedViews.hits("q422_mv")
    (0 until 3).foreach { i =>
      ManifestTable.commit(rows.filter($"k" % 10 === 7 + i), baseDir,
        append = true)
      val q = s.readStream.format("graft.sources.v2.ManifestStreamSource")
        .schema(tblSchema).option("path", baseDir)
        .option("startVersion", "1").load()
        .writeStream
        .foreachBatch { (_: DataFrame, _: Long) =>
          GraftMaterializedViews.refreshIncremental(s, "q422_mv")
        }
        .option("checkpointLocation", s"$out/_cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val served = s.sql(defSql + " ORDER BY pri").localCheckpoint()
      require(GraftMaterializedViews.hits("q422_mv") == prevHits + 1,
        s"q422: the dashboard after trigger $i must be MV-served " +
          "(a lagging refresh leaves the view stale)")
      prevHits += 1
      val expect = ManifestTable.read(s, baseDir).groupBy($"pri")
        .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"),
          count($"cents").as("cnt_cents"))
      require(Relational.bagDiff(served, expect).isEmpty,
        s"q422: trigger $i's served groups must equal the from-base " +
          "recompute at the delivered version")
    }
    GraftMaterializedViews.drop("q422_mv")
    s.sql(defSql + " ORDER BY pri")
  }

  // q421: MV ROLLUP CONTAINMENT (r14) — the first containment dimension
  // on top of the exact-match contract: a query that aggregates the
  // SAME base subtree (child fingerprints equal — same relations at the
  // same pinned versions) by a SUBSET of a fresh view's group keys is
  // served by RE-AGGREGATING the O(|groups|) MV: count(*) → sum of the
  // stored count partial, sum → sum of sums, min → min of mins, max →
  // max of maxes (the textbook distributive-rollup algebra every
  // production MV system ships). Fail-closed edges: DISTINCT over
  // non-key measures, FILTER over non-keys, expression group keys over
  // non-keys, sums the view never stored, staleness, and time travel
  // all compute from base (count(col)/avg serve since r16 via the cnt
  // partials — q428; DISTINCT/FILTER over KEYS serve since r16 too —
  // q430). Require-pinned: the coarse query serves (hit + MV in the
  // executed plan), count(DISTINCT key) serves, count(DISTINCT
  // non-key) does not; the gate output is
  // the rolled-up answer, oracle-recomputed directly from the raw
  // table — a wrong partial fold (summing maxes, dropping a group)
  // moves the hash. At 100 TB: the dashboard's coarse rollup touches
  // |finer groups| rows instead of the fact — and ONE registered view
  // now serves the whole rollup lattice beneath it, not one query text.
  def mvRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q421", dir)
    import graft.sources.v2.GraftMaterializedViews
    s.conf.set("spark.sql.catalog.graft_cat421", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat421.warehouse", out)
    Tables(s, dir).orders
      .select($"o_orderkey".cast("long").as("k"), $"o_orderpriority".as("pri"),
        ($"o_orderkey".cast("long") % 8).as("bucket"),
        ($"o_orderkey".cast("long") * 2).as("cents"))
      .createOrReplaceTempView("q421_src")
    s.sql("DROP TABLE IF EXISTS graft_cat421.db.base")
    s.sql("CREATE TABLE graft_cat421.db.base (pri STRING, bucket BIGINT, cents BIGINT)")
    s.sql("INSERT INTO graft_cat421.db.base " +
      "SELECT pri, bucket, cents FROM q421_src")
    GraftMaterializedViews.registerAgg(s, "q421_mv",
      "graft_cat421.db.base", s"$out/db/base", Seq("pri", "bucket"),
      Seq("cents"), s"$out/db/_mv_fine",
      minCols = Seq("cents"), maxCols = Seq("cents"))
    val h0 = GraftMaterializedViews.hits("q421_mv")
    // the COARSE query — never registered as its own view: the rollup
    // lattice under (pri, bucket) serves it from the fine MV
    val roll = "SELECT pri, count(*) AS n_rows, sum(cents) AS sum_cents, " +
      "min(cents) AS min_cents, max(cents) AS max_cents " +
      "FROM graft_cat421.db.base GROUP BY pri ORDER BY pri"
    val q = s.sql(roll)
    q.collect(): Unit
    require(GraftMaterializedViews.hits("q421_mv") == h0 + 1,
      "q421: the coarse rollup must be served from the fine MV")
    require(q.queryExecution.executedPlan.toString.contains("_mv_fine"),
      "q421: the rolled-up plan must scan the MV table, not the base")
    // DISTINCT over a KEY serves since r16 (the MV rows ARE the distinct
    // key combos); DISTINCT over a non-key measure is the genuinely
    // unservable probe (its multiplicity was folded away)
    s.sql("SELECT pri, count(DISTINCT bucket) AS n " +
      "FROM graft_cat421.db.base GROUP BY pri").collect(): Unit
    require(GraftMaterializedViews.hits("q421_mv") == h0 + 2,
      "q421: count(DISTINCT key) must serve from the MV")
    s.sql("SELECT pri, count(DISTINCT cents) AS n " +
      "FROM graft_cat421.db.base GROUP BY pri").collect(): Unit
    require(GraftMaterializedViews.hits("q421_mv") == h0 + 2,
      "q421: count(DISTINCT non-key) must fail closed to the base")
    // group-key FILTER containment: the WHERE transfers to MV rows
    val qf = s.sql("SELECT pri, sum(cents) AS s FROM graft_cat421.db.base " +
      "WHERE bucket < 4 GROUP BY pri")
    qf.collect(): Unit
    require(GraftMaterializedViews.hits("q421_mv") == h0 + 3,
      "q421: a group-key WHERE must be served from the MV's groups")
    require(qf.queryExecution.executedPlan.toString.contains("_mv_fine"),
      "q421: the filtered rollup must scan the MV, not the base")
    GraftMaterializedViews.drop("q421_mv")
    q.orderBy($"pri")
  }

  // q428: COUNT(col)/AVG(col) THROUGH THE CONTAINMENT REWRITE (r16) —
  // the two most-asked dashboard aggregates after count(*)/sum, served
  // from the cnt_<c> partials every sum column now stores: count(col)
  // re-aggregates as the sum of per-group NON-NULL counts, and integral
  // avg(col) as sum(sum partials) / sum(cnt partials) — the exact double
  // division Spark's own Average performs on integral input (exact
  // below 2^53), so the served number is bit-identical to the from-base
  // answer, never approximately equal. The NULL discipline is visible
  // in the data (every 7th cents is NULL, so count(cents) < count(*)
  // per group and avg divides by the smaller number). Fail-closed pins
  // cover what the partials genuinely cannot reproduce: avg of a
  // stored DOUBLE sum column (float partial sums are order-dependent —
  // the integral-only type rule) and count of an unstored column. A
  // GDPR delete + one incremental fold re-arms the same lattice.
  // Require-pinned: coarse AND global grains serve (hit counter + MV
  // scan in the executed plan); the oracle recomputes count/avg from
  // the raw rows. At 100 TB: the average-order-value dashboard reads
  // |groups| rows instead of the fact — for the price of one long
  // column per sum column in an O(|groups|) table.
  def mvCountAvg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q428", dir)
    import graft.sources.ManifestTable
    import graft.sources.v2.GraftMaterializedViews
    s.conf.set("spark.sql.catalog.graft_cat428", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat428.warehouse", out)
    Tables(s, dir).orders
      .select($"o_orderkey".cast("long").as("k"), $"o_orderpriority".as("pri"),
        ($"o_orderkey".cast("long") % 8).as("bucket"),
        when($"o_orderkey".cast("long") % 7 === 0, lit(null).cast("bigint"))
          .otherwise($"o_orderkey".cast("long") * 2).as("cents"),
        (($"o_orderkey".cast("long") % 100) * 0.5).as("dbl"))
      .createOrReplaceTempView("q428_src")
    s.sql("DROP TABLE IF EXISTS graft_cat428.db.base")
    s.sql("CREATE TABLE graft_cat428.db.base " +
      "(k BIGINT, pri STRING, bucket BIGINT, cents BIGINT, dbl DOUBLE)")
    s.sql("INSERT INTO graft_cat428.db.base " +
      "SELECT k, pri, bucket, cents, dbl FROM q428_src")
    val baseDir = s"$out/db/base"
    GraftMaterializedViews.registerAgg(s, "q428_mv",
      "graft_cat428.db.base", baseDir, Seq("pri", "bucket"),
      Seq("cents", "dbl"), s"$out/db/_mv_ca")
    val h0 = GraftMaterializedViews.hits("q428_mv")
    val roll = "SELECT pri, count(*) AS n_rows, count(cents) AS cnt_cents, " +
      "sum(cents) AS sum_cents, avg(cents) AS avg_cents " +
      "FROM graft_cat428.db.base GROUP BY pri ORDER BY pri"
    val q1 = s.sql(roll)
    val rows1 = q1.collect()
    require(GraftMaterializedViews.hits("q428_mv") == h0 + 1,
      "q428: the coarse count(col)/avg(col) dashboard must be MV-served")
    require(q1.queryExecution.executedPlan.toString.contains("_mv_ca"),
      "q428: the rolled count/avg plan must scan the MV, not the base")
    require(rows1.forall(r => r.getLong(1) > r.getLong(2)),
      "q428: the NULL-laden column must show count(cents) < count(*) — " +
        "otherwise avg is not exercising the non-null divisor")
    // the GLOBAL grain (coarsest lattice point) serves the same way
    val qg = s.sql("SELECT count(cents) AS c, avg(cents) AS a " +
      "FROM graft_cat428.db.base")
    qg.collect(): Unit
    require(GraftMaterializedViews.hits("q428_mv") == h0 + 2,
      "q428: the global count(col)/avg(col) must be MV-served")
    require(qg.queryExecution.executedPlan.toString.contains("_mv_ca"),
      "q428: the global plan must scan the MV")
    // fail-closed: avg of the stored DOUBLE column — sum AND cnt
    // partials exist, but float partial sums are order-dependent, so
    // the integral-only rule refuses (approximately-equal is a changed
    // answer)
    s.sql("SELECT pri, avg(dbl) AS a FROM graft_cat428.db.base " +
      "GROUP BY pri").collect(): Unit
    // fail-closed: count/avg of a column with no stored partial
    s.sql("SELECT pri, count(k) AS n FROM graft_cat428.db.base " +
      "GROUP BY pri").collect(): Unit
    s.sql("SELECT pri, avg(k) AS a FROM graft_cat428.db.base " +
      "GROUP BY pri").collect(): Unit
    require(GraftMaterializedViews.hits("q428_mv") == h0 + 2,
      "q428: DOUBLE avg and unstored count/avg must fail closed to the base")
    // GDPR delete, then ONE incremental fold re-arms the whole lattice
    ManifestTable.delete(s.sql("SELECT k FROM q428_src WHERE k % 10 = 4"),
      baseDir, "k")
    s.sql(roll).collect(): Unit
    require(GraftMaterializedViews.hits("q428_mv") == h0 + 2,
      "q428: the stale view must not serve")
    GraftMaterializedViews.refreshIncremental(s, "q428_mv")
    val q2 = s.sql(roll)
    q2.collect(): Unit
    require(GraftMaterializedViews.hits("q428_mv") == h0 + 3,
      "q428: the refreshed view must serve the count/avg lattice again")
    require(q2.queryExecution.executedPlan.toString.contains("_mv_ca"),
      "q428: the post-refresh plan must scan the MV")
    GraftMaterializedViews.drop("q428_mv")
    q2.orderBy($"pri")
  }

  // q430: DISTINCT + FILTER THROUGH THE CONTAINMENT (r16) — the pivot
  // dashboard served from one fine-grained MV. Two containment
  // extensions land here: (1) DISTINCT over key expressions — the MV
  // holds EXACTLY one row per distinct group-key combination, so the
  // distinct input set of any deterministic key expression is IDENTICAL
  // over MV rows and base rows, and the UNCHANGED aggregate over the MV
  // is the exact answer (count(DISTINCT bucket) per pri — the EXACT
  // complement of the q425/q426 sketch path, which covers distinct of
  // NON-key columns); (2) FILTER (WHERE p) with p over keys — p is
  // constant per MV group, so it guards the partial (`sum(when(p,
  // partial))`), folding exactly the groups whose rows the base
  // aggregate would have kept. The pivot query exercises both in ONE
  // statement: conditional sums split by bucket band + the distinct
  // bucket count, per priority. Require-pinned: the pivot AND the
  // global distinct serve (hits + MV-scan plans); DISTINCT over a
  // non-key measure and FILTER over a non-key measure fail closed; a
  // GDPR delete + one incremental fold re-arms. Oracle recomputes the
  // pivot from raw rows (DuckDB FILTER clause). At 100 TB: the N-column
  // pivot dashboard — the most common BI shape after plain rollup —
  // reads |groups| rows instead of re-scanning the fact N times.
  def mvDistinctFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q430", dir)
    import graft.sources.ManifestTable
    import graft.sources.v2.GraftMaterializedViews
    s.conf.set("spark.sql.catalog.graft_cat430", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat430.warehouse", out)
    Tables(s, dir).orders
      .select($"o_orderkey".cast("long").as("k"), $"o_orderpriority".as("pri"),
        ($"o_orderkey".cast("long") % 8).as("bucket"),
        ($"o_orderkey".cast("long") * 2).as("cents"))
      .createOrReplaceTempView("q430_src")
    s.sql("DROP TABLE IF EXISTS graft_cat430.db.base")
    s.sql("CREATE TABLE graft_cat430.db.base (pri STRING, bucket BIGINT, cents BIGINT)")
    s.sql("INSERT INTO graft_cat430.db.base " +
      "SELECT pri, bucket, cents FROM q430_src")
    val baseDir = s"$out/db/base"
    GraftMaterializedViews.registerAgg(s, "q430_mv",
      "graft_cat430.db.base", baseDir, Seq("pri", "bucket"),
      Seq("cents"), s"$out/db/_mv_piv")
    val h0 = GraftMaterializedViews.hits("q430_mv")
    // the pivot: distinct key count + conditional sums, one statement
    val pivot = "SELECT pri, count(DISTINCT bucket) AS n_buckets, " +
      "sum(cents) FILTER (WHERE bucket < 4) AS low_cents, " +
      "sum(cents) FILTER (WHERE bucket >= 4) AS high_cents, " +
      "count(*) FILTER (WHERE bucket = 0) AS n_b0 " +
      "FROM graft_cat430.db.base GROUP BY pri ORDER BY pri"
    val q1 = s.sql(pivot)
    q1.collect(): Unit
    require(GraftMaterializedViews.hits("q430_mv") == h0 + 1,
      "q430: the DISTINCT+FILTER pivot must be MV-served")
    require(q1.queryExecution.executedPlan.toString.contains("_mv_piv"),
      "q430: the pivot plan must scan the MV, not the base")
    // the GLOBAL distinct (coarsest lattice point)
    val qg = s.sql("SELECT count(DISTINCT bucket) AS n, " +
      "sum(DISTINCT bucket) AS sb FROM graft_cat430.db.base")
    qg.collect(): Unit
    require(GraftMaterializedViews.hits("q430_mv") == h0 + 2,
      "q430: the global distinct-over-key must be MV-served")
    require(qg.queryExecution.executedPlan.toString.contains("_mv_piv"),
      "q430: the global plan must scan the MV")
    // fail-closed: DISTINCT and FILTER over the NON-key measure — its
    // per-row multiplicity was folded away at materialization
    s.sql("SELECT pri, count(DISTINCT cents) AS n " +
      "FROM graft_cat430.db.base GROUP BY pri").collect(): Unit
    s.sql("SELECT pri, sum(cents) FILTER (WHERE cents > 100) AS sc " +
      "FROM graft_cat430.db.base GROUP BY pri").collect(): Unit
    require(GraftMaterializedViews.hits("q430_mv") == h0 + 2,
      "q430: non-key DISTINCT/FILTER must fail closed to the base")
    // GDPR delete, then ONE incremental fold re-arms the pivot
    ManifestTable.delete(s.sql("SELECT cents FROM q430_src WHERE k % 10 = 4"),
      baseDir, "cents")
    s.sql(pivot).collect(): Unit
    require(GraftMaterializedViews.hits("q430_mv") == h0 + 2,
      "q430: the stale view must not serve")
    GraftMaterializedViews.refreshIncremental(s, "q430_mv")
    val q2 = s.sql(pivot)
    q2.collect(): Unit
    require(GraftMaterializedViews.hits("q430_mv") == h0 + 3,
      "q430: the refreshed view must serve the pivot again")
    require(q2.queryExecution.executedPlan.toString.contains("_mv_piv"),
      "q430: the post-refresh plan must scan the MV")
    GraftMaterializedViews.drop("q430_mv")
    q2.orderBy($"pri")
  }

  // q431: JOIN-BACK REWRITE (r16) — the star dashboard WITHOUT a join
  // MV: one agg view over the FACT ALONE serves every query that joins
  // the fact to a dimension on the view's key and groups by dim
  // attributes. Correctness rests on the pair-set identity: an INNER
  // join whose condition is deterministic with fact-side references
  // confined to view keys decides its matches per (key combo, dim row),
  // so MV ⋈ dim replicates every group exactly as base ⋈ dim replicates
  // that group's rows — count(*) folds the count partial across the
  // replication, sum/avg of fact columns fold their partials, min/max
  // and DISTINCT of key/dim expressions evaluate directly (replication
  // never changes them). The dim subtree transplants VERBATIM into the
  // rewritten plan, read at whatever version the query planned — dim
  // churn never stales the view. Require-pinned: the dim-grouped
  // dashboard serves (hit + MV scan + the FACT ABSENT from the executed
  // plan); a dim-weighted sum (sum of a dim column — fact multiplicity
  // folded away) and a LEFT join fail closed; fact churn + one fold
  // re-arms. Oracle recomputes the star join from raw rows. At 100 TB:
  // the fact is re-joined by NOBODY — the dashboard joins |groups| MV
  // rows to the dim instead of 100 TB of fact, with no join-specific
  // view to declare or maintain.
  def mvJoinBack(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q431", dir)
    import graft.sources.ManifestTable
    import graft.sources.v2.GraftMaterializedViews
    s.conf.set("spark.sql.catalog.graft_cat431", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat431.warehouse", out)
    Tables(s, dir).orders
      .select($"o_orderkey".cast("long").as("k"),
        ($"o_orderkey".cast("long") % 50).as("ck"),
        ($"o_orderkey".cast("long") * 2).as("cents"))
      .createOrReplaceTempView("q431_src")
    s.sql("DROP TABLE IF EXISTS graft_cat431.db.fact")
    s.sql("DROP TABLE IF EXISTS graft_cat431.db.dim")
    s.sql("CREATE TABLE graft_cat431.db.fact (k BIGINT, ck BIGINT, cents BIGINT)")
    s.sql("INSERT INTO graft_cat431.db.fact SELECT k, ck, cents FROM q431_src " +
      "WHERE k % 10 < 8")
    // the dim COVERS ONLY ck < 40: the inner join must drop uncovered
    // groups on the MV path exactly as it drops their rows on the base
    s.sql("CREATE TABLE graft_cat431.db.dim (ck BIGINT, region STRING)")
    s.sql("INSERT INTO graft_cat431.db.dim " +
      "SELECT DISTINCT ck, concat('r', ck % 5) FROM q431_src WHERE ck < 40")
    val factDir = s"$out/db/fact"
    GraftMaterializedViews.registerAgg(s, "q431_mv",
      "graft_cat431.db.fact", factDir, Seq("ck"), Seq("cents"),
      s"$out/db/_mv_star")
    val h0 = GraftMaterializedViews.hits("q431_mv")
    val dash = "SELECT region, count(*) AS n_rows, sum(cents) AS sum_cents, " +
      "max(ck) AS max_ck FROM graft_cat431.db.fact " +
      "JOIN graft_cat431.db.dim USING (ck) GROUP BY region ORDER BY region"
    val q1 = s.sql(dash)
    q1.collect(): Unit
    require(GraftMaterializedViews.hits("q431_mv") == h0 + 1,
      "q431: the dim-grouped star dashboard must be MV-served")
    val p1 = q1.queryExecution.executedPlan.toString
    require(p1.contains("_mv_star"),
      "q431: the join-back plan must scan the MV")
    require(!p1.contains("db/fact"),
      "q431: the FACT must be absent from the join-back plan")
    // DISTINCT over a dim column + a WHERE above the join
    val q2 = s.sql("SELECT count(DISTINCT region) AS n " +
      "FROM graft_cat431.db.fact JOIN graft_cat431.db.dim USING (ck) " +
      "WHERE ck < 20")
    q2.collect(): Unit
    require(GraftMaterializedViews.hits("q431_mv") == h0 + 2,
      "q431: distinct-over-dim with a transferred WHERE must serve")
    // MULTI-DIM snowflake chain: zone joins on a column INTRODUCED BY
    // the first dim — the flattened join tree rebuilds greedily from
    // the MV outward, every join delta-sized
    s.sql("DROP TABLE IF EXISTS graft_cat431.db.zone")
    s.sql("CREATE TABLE graft_cat431.db.zone (region STRING, zone STRING)")
    s.sql("INSERT INTO graft_cat431.db.zone " +
      "SELECT DISTINCT concat('r', ck % 5), concat('z', ck % 5 % 2) " +
      "FROM q431_src WHERE ck < 40")
    val qz = s.sql("SELECT zone, count(*) AS n, sum(cents) AS s " +
      "FROM graft_cat431.db.fact JOIN graft_cat431.db.dim USING (ck) " +
      "JOIN graft_cat431.db.zone USING (region) GROUP BY zone")
    qz.collect(): Unit
    require(GraftMaterializedViews.hits("q431_mv") == h0 + 3,
      "q431: the two-dim snowflake chain must be MV-served")
    require(qz.queryExecution.executedPlan.toString.contains("_mv_star"),
      "q431: the snowflake join-back plan must scan the MV")
    // fail-closed: a dim-weighted sum needs per-row fact multiplicity;
    // a LEFT join changes the unmatched-group story
    s.sql("SELECT region, sum(ck) AS s FROM graft_cat431.db.fact " +
      "JOIN graft_cat431.db.dim USING (ck) GROUP BY region").collect(): Unit
    s.sql("SELECT region, sum(cents) AS s FROM graft_cat431.db.fact " +
      "LEFT JOIN graft_cat431.db.dim USING (ck) GROUP BY region")
      .collect(): Unit
    require(GraftMaterializedViews.hits("q431_mv") == h0 + 3,
      "q431: dim-weighted sums and outer joins must fail closed")
    // fact churn: ingest + GDPR purge, ONE fold re-arms the join-back
    ManifestTable.commit(s.sql("SELECT k, ck, cents FROM q431_src " +
      "WHERE k % 10 = 8"), factDir, append = true): Unit
    ManifestTable.delete(s.sql("SELECT k FROM q431_src WHERE k % 10 = 3"),
      factDir, "k")
    s.sql(dash).collect(): Unit
    require(GraftMaterializedViews.hits("q431_mv") == h0 + 3,
      "q431: the stale fact must fail the join-back closed")
    GraftMaterializedViews.refreshIncremental(s, "q431_mv")
    val q3 = s.sql(dash)
    q3.collect(): Unit
    require(GraftMaterializedViews.hits("q431_mv") == h0 + 4,
      "q431: the refreshed view must serve the dashboard again")
    require(q3.queryExecution.executedPlan.toString.contains("_mv_star"),
      "q431: the post-refresh plan must scan the MV")
    GraftMaterializedViews.drop("q431_mv")
    q3.orderBy($"region")
  }


  // q432: THE BI CUBE FROM THE MV (r16) — `GROUP BY ROLLUP/CUBE/
  // GROUPING SETS` analyzes as Aggregate over an Expand that replicates
  // every input row once per grouping set with the set's keys nulled.
  // The containment rewrite replays that exact Expand over the MV: each
  // group's PARTIALS replicate once per set, and aggregating by
  // (copies, grouping_id) merges MV groups into each cell exactly as
  // the base merges rows — count(*) folds the count partial, sum folds
  // sums, DISTINCT over keys evaluates directly. Require-pinned:
  // ROLLUP, CUBE and explicit GROUPING SETS (with count(DISTINCT key))
  // all serve (hits + MV-scan plans); a grouping() projection of the
  // gid and a DISTINCT over the non-key measure fail closed; a GDPR
  // delete + one fold re-arms. Oracle recomputes the rollup lattice
  // from raw rows (the gate output labels the null cells 'ALL' so both
  // engines order identically). At 100 TB: the BI cube — one query
  // rendering every subtotal level — reads |sets| × |groups| MV
  // replicas instead of scanning the fact once per dashboard render.
  def mvCube(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q432", dir)
    import graft.sources.ManifestTable
    import graft.sources.v2.GraftMaterializedViews
    s.conf.set("spark.sql.catalog.graft_cat432", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat432.warehouse", out)
    Tables(s, dir).orders
      .select($"o_orderkey".cast("long").as("k"), $"o_orderpriority".as("pri"),
        ($"o_orderkey".cast("long") % 8).as("bucket"),
        ($"o_orderkey".cast("long") * 2).as("cents"))
      .createOrReplaceTempView("q432_src")
    s.sql("DROP TABLE IF EXISTS graft_cat432.db.base")
    s.sql("CREATE TABLE graft_cat432.db.base (pri STRING, bucket BIGINT, cents BIGINT)")
    s.sql("INSERT INTO graft_cat432.db.base " +
      "SELECT pri, bucket, cents FROM q432_src")
    val baseDir = s"$out/db/base"
    GraftMaterializedViews.registerAgg(s, "q432_mv",
      "graft_cat432.db.base", baseDir, Seq("pri", "bucket"),
      Seq("cents"), s"$out/db/_mv_cube")
    val h0 = GraftMaterializedViews.hits("q432_mv")
    val rollup = "SELECT pri, bucket, count(*) AS n_rows, " +
      "sum(cents) AS sum_cents FROM graft_cat432.db.base " +
      "GROUP BY ROLLUP(pri, bucket)"
    val q1 = s.sql(rollup)
    q1.collect(): Unit
    require(GraftMaterializedViews.hits("q432_mv") == h0 + 1,
      "q432: GROUP BY ROLLUP must be MV-served")
    require(q1.queryExecution.executedPlan.toString.contains("_mv_cube"),
      "q432: the rollup-cube plan must scan the MV, not the base")
    // the full CUBE (adds the bucket-only sets)
    val qc = s.sql("SELECT pri, bucket, sum(cents) AS s " +
      "FROM graft_cat432.db.base GROUP BY CUBE(pri, bucket)")
    qc.collect(): Unit
    require(GraftMaterializedViews.hits("q432_mv") == h0 + 2,
      "q432: GROUP BY CUBE must be MV-served")
    // explicit GROUPING SETS with a DISTINCT-over-key aggregate
    val qg = s.sql("SELECT pri, count(DISTINCT bucket) AS nb " +
      "FROM graft_cat432.db.base GROUP BY GROUPING SETS ((pri), ())")
    qg.collect(): Unit
    require(GraftMaterializedViews.hits("q432_mv") == h0 + 3,
      "q432: GROUPING SETS with count(DISTINCT key) must be MV-served")
    require(qg.queryExecution.executedPlan.toString.contains("_mv_cube"),
      "q432: the grouping-sets plan must scan the MV")
    // fail-closed: a grouping() projection of the gid, and DISTINCT
    // over the non-key measure
    s.sql("SELECT pri, grouping(pri) AS gi, count(*) AS n " +
      "FROM graft_cat432.db.base GROUP BY ROLLUP(pri)").collect(): Unit
    s.sql("SELECT pri, count(DISTINCT cents) AS n " +
      "FROM graft_cat432.db.base GROUP BY ROLLUP(pri, bucket)")
      .collect(): Unit
    require(GraftMaterializedViews.hits("q432_mv") == h0 + 3,
      "q432: grouping() projections and non-key DISTINCT must fail closed")
    // GDPR delete, then ONE incremental fold re-arms the cube
    ManifestTable.delete(s.sql("SELECT cents FROM q432_src WHERE k % 10 = 4"),
      baseDir, "cents")
    s.sql(rollup).collect(): Unit
    require(GraftMaterializedViews.hits("q432_mv") == h0 + 3,
      "q432: the stale view must not serve the cube")
    GraftMaterializedViews.refreshIncremental(s, "q432_mv")
    val q2 = s.sql(rollup)
    q2.collect(): Unit
    require(GraftMaterializedViews.hits("q432_mv") == h0 + 4,
      "q432: the refreshed view must serve the cube again")
    require(q2.queryExecution.executedPlan.toString.contains("_mv_cube"),
      "q432: the post-refresh plan must scan the MV")
    GraftMaterializedViews.drop("q432_mv")
    // gate output: label the rolled-up (null) cells so both engines
    // order identically; the rewrite already served the inner Aggregate
    q2.select(coalesce($"pri", lit("ALL")).as("pri"),
        coalesce($"bucket".cast("string"), lit("ALL")).as("bucket"),
        $"n_rows", $"sum_cents")
      .orderBy($"pri", $"bucket")
  }


  // q433: EXECUTOR-SIDE DELETE-KEY LOADING (r16) — the merge-on-read
  // equality-delete path above the driver ceiling. The ceiling check
  // moved from "collect then refuse" to a PATH SWITCH decided from the
  // delete files' parquet FOOTER row counts before any driver collect:
  // over the ceiling, the scan's broadcast specs carry delete FILE
  // PATHS (+ key column names + a serializable hadoop conf) instead of
  // collected key rows, and each executor JVM loads + caches the probe
  // set once (MoRDeleteKeyLoader) — the Iceberg posture: delete-set
  // size bounds at executor memory, and a 1000-executor scan pays one
  // small parquet read per executor, never one per task. This face
  // forces the switch with the test ceiling (-Dgraft.mor.maxDeleteKeys
  // equivalent via sys.props, restored in finally), drives a TWO-commit
  // delete chain through the SQL read, and require-pins that the lazy
  // loader actually engaged AND loaded at most once per distinct
  // (files, key cols) set across all partitions. The oracle recomputes
  // the surviving rows from the raw slices — a lazy set that dropped a
  // key, matched a NULL, or double-applied a chain group moves the
  // hash. At 100 TB: a GDPR-heavy table's delete chain no longer has a
  // driver-sized cliff between "works" and "compact first".
  def morLazyDeletes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q433", dir)
    import graft.sources.ManifestTable
    import graft.sources.v2.MoRDeleteKeyLoader
    s.conf.set("spark.sql.catalog.graft_cat433", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat433.warehouse", out)
    Tables(s, dir).orders
      .select($"o_orderkey".cast("long").as("k"), $"o_orderpriority".as("pri"),
        ($"o_orderkey".cast("long") * 2).as("cents"))
      .createOrReplaceTempView("q433_src")
    s.sql("DROP TABLE IF EXISTS graft_cat433.db.t")
    s.sql("CREATE TABLE graft_cat433.db.t (k BIGINT, pri STRING, cents BIGINT)")
    s.sql("INSERT INTO graft_cat433.db.t SELECT k, pri, cents FROM q433_src")
    val tDir = s"$out/db/t"
    // a two-commit delete chain: the second delete applies to data the
    // first already masked (two applicable-suffix groups in the scan)
    ManifestTable.delete(s.sql("SELECT k FROM q433_src WHERE k % 3 = 0"),
      tDir, "k")
    // negated keys: disjoint from every positive delete-key value at
    // ANY scale factor (no fixed-shift collision as keys grow)
    ManifestTable.commit(s.sql(
      "SELECT -k AS k, pri, cents FROM q433_src WHERE k % 10 = 7"),
      tDir, append = true): Unit
    ManifestTable.delete(s.sql("SELECT k FROM q433_src WHERE k % 10 = 5"),
      tDir, "k")
    val dash = "SELECT pri, count(*) AS n_rows, sum(cents) AS sum_cents " +
      "FROM graft_cat433.db.t GROUP BY pri ORDER BY pri"
    // eager baseline (default ceiling)
    val eager = s.sql(dash).collect().map(_.toString).toSeq
    // force the over-ceiling switch; the footer estimate decides BEFORE
    // any collect
    val l0 = MoRDeleteKeyLoader.loads.get()
    sys.props("graft.mor.maxDeleteKeys") = "8"
    val q =
      try {
        val lz = s.sql(dash)
        val got = lz.collect().map(_.toString).toSeq
        require(got == eager,
          "q433: the executor-loaded delete sets must serve exactly the " +
            "driver-collected answer")
        val loads = MoRDeleteKeyLoader.loads.get() - l0
        require(loads >= 1,
          "q433: the over-ceiling read must engage the lazy loader")
        require(loads <= 2,
          s"q433: each distinct (files, key cols) set must load at most " +
            s"once per JVM across all partitions (got $loads)")
        // a pushed-filter aggregate on the lazy path, and cache reuse
        s.sql("SELECT count(*) AS n FROM graft_cat433.db.t WHERE k <= 500")
          .collect(): Unit
        require(MoRDeleteKeyLoader.loads.get() - l0 == loads,
          "q433: repeat scans must reuse the cached executor-side sets")
        lz
      } finally { sys.props.remove("graft.mor.maxDeleteKeys"): Unit }
    q.orderBy($"pri")
  }


  // q429: FILTERED (HOT-WINDOW) MV (r16) — the standard production
  // dashboard view the registry could not declare before: "last 90 days
  // of events by (day, type)". `create_filtered_mv` stores the predicate
  // in the definition; the refresh applies it to every feed delta
  // (inserts and deletes filter identically, so the signed fold identity
  // is unchanged on the filtered multiset — an out-of-window delete is
  // the no-op it should be), and the unpeeled-child containment match
  // serves every query that repeats the view's WHERE at any contained
  // grain, including time-hierarchy grains. Require-pinned: out-of-window
  // rows provably absent from the materialization (min stored day ≥ the
  // cutoff); the etype dashboard and the month rollup with the same
  // WHERE serve (hits + MV-scan plans); the UNFILTERED query fails
  // closed; one refresh folds an ingest window + a GDPR purge straddling
  // the cutoff. Oracle recomputes the windowed dashboard from raw rows.
  // At 100 TB: the hot-window MV is O(|window groups|) — the dominant
  // dashboard pattern stops re-scanning the fact's cold history just to
  // throw it away at the filter.
  def mvFiltered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q429", dir)
    import graft.sources.ManifestTable
    import graft.sources.v2.GraftMaterializedViews
    s.conf.set("spark.sql.catalog.graft_cat429", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat429.warehouse", out)
    val src = Tables(s, dir).events
      .select($"event_id".cast("long").as("k"), $"ts".cast("date").as("day"),
        $"event_type".as("etype"),
        ($"event_id" % 997).cast("long").as("cents"))
      .localCheckpoint()
    src.createOrReplaceTempView("q429_src")
    // the window cutoff derives from the DATA (max day − 90), so the
    // face holds at every scale factor
    val cutoff = src.agg(max($"day")).head.getDate(0).toLocalDate.minusDays(90)
    s.sql("DROP TABLE IF EXISTS graft_cat429.db.ev")
    s.sql("CREATE TABLE graft_cat429.db.ev " +
      "(k BIGINT, day DATE, etype STRING, cents BIGINT)")
    s.sql("INSERT INTO graft_cat429.db.ev " +
      "SELECT k, day, etype, cents FROM q429_src WHERE k % 10 < 8")
    val whereSql = s"day >= DATE'$cutoff'"
    val defSql = s.sql("CALL graft_cat429.system.create_filtered_mv(" +
      s"'q429_mv', 'db.ev', 'day,etype', 'cents', " +
      s"'${whereSql.replace("'", "''")}')").head.getString(0)
    require(defSql.contains(s"WHERE $whereSql"),
      "q429: the predicate must be part of the stored definition")
    val h0 = GraftMaterializedViews.hits("q429_mv")
    s.sql(defSql).collect(): Unit
    require(GraftMaterializedViews.hits("q429_mv") == h0 + 1,
      "q429: the exact filtered definition must serve from the MV")
    // out-of-window rows are provably absent from the materialization
    val minDay = ManifestTable.read(s, s"$out/db/ev/_mv_q429_mv")
      .agg(min($"day")).head.getDate(0).toLocalDate
    require(!minDay.isBefore(cutoff),
      s"q429: the MV holds a day before the cutoff ($minDay < $cutoff)")
    // one window of churn straddling the cutoff: fresh ingest + GDPR
    // purge, then ONE incremental fold
    ManifestTable.commit(src.where($"k" % 10 === 8)
      .select($"k", $"day", $"etype", $"cents"), s"$out/db/ev",
      append = true): Unit
    ManifestTable.delete(src.where($"k" % 10 === 4).select($"k"),
      s"$out/db/ev", "k")
    s.sql("CALL graft_cat429.system.refresh_mv_incremental('q429_mv')")
      .collect(): Unit
    // the hot-window dashboard: same WHERE, coarser (etype) grain —
    // served through the unpeeled-child containment
    val dash = s"SELECT etype, count(*) AS n_rows, sum(cents) AS sum_cents " +
      s"FROM graft_cat429.db.ev WHERE $whereSql GROUP BY etype ORDER BY etype"
    val q = s.sql(dash)
    q.collect(): Unit
    require(GraftMaterializedViews.hits("q429_mv") == h0 + 2,
      "q429: the windowed dashboard must be MV-served after the fold")
    require(q.queryExecution.executedPlan.toString.contains("_mv_q429_mv"),
      "q429: the dashboard plan must scan the MV, not the base")
    // time-hierarchy composes with the window: month grain, same WHERE
    val qm = s.sql("SELECT trunc(day, 'MM') AS mon, count(*) AS n " +
      s"FROM graft_cat429.db.ev WHERE $whereSql GROUP BY trunc(day, 'MM')")
    qm.collect(): Unit
    require(GraftMaterializedViews.hits("q429_mv") == h0 + 3,
      "q429: the month grain with the view's WHERE must serve")
    require(qm.queryExecution.executedPlan.toString.contains("_mv_q429_mv"),
      "q429: the month plan must scan the MV")
    // the UNFILTERED dashboard sees rows the view never stored
    s.sql("SELECT etype, count(*) AS n FROM graft_cat429.db.ev " +
      "GROUP BY etype").collect(): Unit
    require(GraftMaterializedViews.hits("q429_mv") == h0 + 3,
      "q429: the unfiltered query must fail closed to the base")
    GraftMaterializedViews.drop("q429_mv")
    q.orderBy($"etype")
  }

  // q427: CONTINUOUS SNOWFLAKE MAINTENANCE — the q422 always-on
  // maintainer composed with the r15 k-table shape: the profit
  // dashboard (fact ⋈ dim ⋈ dim, grouped) follows the FACT STREAM while
  // the dimensions churn between triggers. The maintainer wakes per
  // fact commit (three AvailableNow runs over one checkpoint — the
  // resume path exercised twice) and ONE refreshIncremental per trigger
  // telescopes BOTH the fact delta and any dim deltas that landed since
  // the last fold — first-level (part → region key) and second-level
  // (region rename) re-homes ride the same refresh as the day's
  // ingest. Require-pinned per trigger: the unchanged dashboard SQL
  // serves from the MV (hit counter) and equals the from-base 3-way
  // join at the delivered version, both exceptAll directions. Oracle:
  // the final join recomputed from all three ingest slices + both
  // re-homes. At 100 TB: the dashboard pays O(|groups|) per render, the
  // maintainer O(Σ|deltas| ⋈ probes) per commit — the fact is
  // re-joined by NOBODY.
  def streamSnowflakeMv(s: SparkSession, dir: String): DataFrame =
    graft.streaming.ScratchCheckpoints.lean(s) {
    import s.implicits._
    import graft.sources.ManifestTable
    val out = Scratch.dir("q427", dir)
    import graft.sources.v2.GraftMaterializedViews
    s.conf.set("spark.sql.catalog.graft_cat427", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat427.warehouse", out)
    val rows = Tables(s, dir).orders
      .select($"o_orderkey".cast("long").as("k"),
        ($"o_orderkey".cast("long") % 40).as("pk"),
        ($"o_orderkey".cast("long") * 2).as("cents")).localCheckpoint()
    rows.createOrReplaceTempView("q427_src")
    Seq("fact", "d1", "d2").foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS graft_cat427.db.$t"))
    s.sql("CREATE TABLE graft_cat427.db.fact (k BIGINT, pk BIGINT, cents BIGINT)")
    s.sql("CREATE TABLE graft_cat427.db.d1 (pk BIGINT, rk BIGINT, cat STRING)")
    s.sql("CREATE TABLE graft_cat427.db.d2 (rk BIGINT, reg STRING)")
    s.sql("INSERT INTO graft_cat427.db.fact " +
      "SELECT k, pk, cents FROM q427_src WHERE k % 10 < 7")
    // tiny dims: one file each, not one near-empty file per default-
    // parallelism partition (a 40-row local Seq otherwise lands as 32
    // files and every later dim scan pays a 32-path listing)
    (0L until 40L).map(pk => (pk, pk % 5, s"c${pk % 3}"))
      .toDF("pk", "rk", "cat").coalesce(1).createOrReplaceTempView("q427_d1")
    s.sql("INSERT INTO graft_cat427.db.d1 SELECT * FROM q427_d1")
    (0L until 5L).map(rk => (rk, s"r$rk"))
      .toDF("rk", "reg").coalesce(1).createOrReplaceTempView("q427_d2")
    s.sql("INSERT INTO graft_cat427.db.d2 SELECT * FROM q427_d2")
    val (fDir, d1Dir, d2Dir) =
      (s"$out/db/fact", s"$out/db/d1", s"$out/db/d2")
    val defSql = GraftMaterializedViews.registerSnowflakeAgg(s, "q427_mv",
      Seq("graft_cat427.db.fact" -> fDir, "graft_cat427.db.d1" -> d1Dir,
        "graft_cat427.db.d2" -> d2Dir),
      Seq("pk", "rk"), Seq("reg", "cat"), Seq("cents"), s"$out/db/_mv_live")
    val tblSchema = ManifestTable.read(s, fDir, 1).schema
    var prevHits = GraftMaterializedViews.hits("q427_mv")
    (0 until 3).foreach { i =>
      // dim churn lands BETWEEN fact commits; the trigger's single
      // refresh telescopes it together with the day's ingest
      if (i == 1)
        ManifestTable.merge((0L until 40L).filter(_ % 4 == 0)
          .map(pk => (pk, (pk + 2) % 5, s"c${pk % 3}"))
          .toDF("pk", "rk", "cat"), d1Dir, "pk")
      if (i == 2)
        ManifestTable.merge(Seq((1L, "rY")).toDF("rk", "reg"), d2Dir, "rk")
      ManifestTable.commit(rows.where($"k" % 10 === 7 + i)
        .select($"k", $"pk", $"cents"), fDir, append = true): Unit
      val q = s.readStream.format("graft.sources.v2.ManifestStreamSource")
        .schema(tblSchema).option("path", fDir)
        .option("startVersion", "1").load()
        .writeStream
        .foreachBatch { (_: DataFrame, _: Long) =>
          GraftMaterializedViews.refreshIncremental(s, "q427_mv")
        }
        .option("checkpointLocation", s"$out/_cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val served = s.sql(defSql + " ORDER BY reg, cat").localCheckpoint()
      require(GraftMaterializedViews.hits("q427_mv") == prevHits + 1,
        s"q427: the dashboard after trigger $i must be MV-served")
      prevHits += 1
      val expect = ManifestTable.read(s, fDir)
        .join(ManifestTable.read(s, d1Dir), Seq("pk"))
        .join(ManifestTable.read(s, d2Dir), Seq("rk"))
        .groupBy($"reg", $"cat")
        .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
      require(Relational.bagDiff(served, expect).isEmpty,
        s"q427: trigger $i's served groups must equal the from-base " +
          "3-way join at the delivered version")
    }
    GraftMaterializedViews.drop("q427_mv")
    s.sql(defSql + " ORDER BY reg, cat")
  }

  // q426: DAILY→MONTHLY UNIQUES — the day-grain sketch table as the
  // uniques dashboard's serving surface (r15). THE canonical rollup
  // naive systems get wrong: monthly unique users is NOT the sum of
  // daily uniques (every user active on two days double-counts). One
  // DAY-grain view maintains an HLL partial per (day, type); the
  // dashboard reads the O(|days × types|) SKETCH TABLE and unions the
  // partials to any calendar grain (week, month, global). The automatic
  // rewrite keeps ESTIMATE shapes fail-closed (merge-structure-
  // dependent numbers — SketchesSpec) while the SAME view's exact
  // count partials serve the month count dashboard through the
  // time-hierarchy containment (plan-pinned). Require-pinned: the
  // naive sum-of-daily-estimates STRICTLY exceeds the deduped month
  // estimate for every type (30 days × ~100 daily actives vs 150 true
  // uniques — the overcount the union exists to prevent); week-grain
  // estimates stay within 5% of exact after an insert window (union
  // fold) AND a GDPR purge (touched-group re-sketch). Gate output: the
  // EXACT week × type user counts over the final base,
  // DuckDB-recomputed. At 100 TB: every calendar uniques question
  // reads sketch bytes, never the events fact.
  def mvDailyUniques(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.ManifestTable
    val out = Scratch.dir("q426", dir)
    import graft.sources.v2.GraftMaterializedViews
    s.conf.set("spark.sql.catalog.graft_cat426", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat426.warehouse", out)
    val src = Tables(s, dir).events
      .select($"event_id".cast("long").as("k"), $"ts".cast("date").as("day"),
        $"event_type".as("etype"), $"user_id".cast("long").as("uid"))
      .localCheckpoint()
    src.createOrReplaceTempView("q426_src")
    s.sql("DROP TABLE IF EXISTS graft_cat426.db.ev")
    s.sql("CREATE TABLE graft_cat426.db.ev " +
      "(k BIGINT, day DATE, etype STRING, uid BIGINT)")
    s.sql("INSERT INTO graft_cat426.db.ev " +
      "SELECT k, day, etype, uid FROM q426_src WHERE k % 10 < 8")
    val evDir = s"$out/db/ev"
    val mvDir = s"$out/db/_mv_du"
    GraftMaterializedViews.registerAgg(s, "q426_mv", "graft_cat426.db.ev",
      evDir, Seq("day", "etype"), Nil, mvDir, distinctCols = Seq("uid"))
    val h0 = GraftMaterializedViews.hits("q426_mv")
    // the estimate shape NEVER substitutes (fail-closed pin) …
    s.sql("SELECT trunc(day, 'MM') AS mon, etype, " +
      "hll_sketch_estimate(hll_sketch_agg(uid)) AS nd " +
      "FROM graft_cat426.db.ev GROUP BY trunc(day, 'MM'), etype")
      .collect(): Unit
    require(GraftMaterializedViews.hits("q426_mv") == h0,
      "q426: the estimate shape must fail closed to the base")
    // … while the month COUNT dashboard serves through the
    // time-hierarchy containment from the very same day-grain view
    val qm = s.sql("SELECT trunc(day, 'MM') AS mon, etype, " +
      "count(*) AS n FROM graft_cat426.db.ev " +
      "GROUP BY trunc(day, 'MM'), etype")
    qm.collect(): Unit
    require(GraftMaterializedViews.hits("q426_mv") == h0 + 1,
      "q426: the month count must roll up the day-grain view")
    require(qm.queryExecution.executedPlan.toString.contains("_mv_du"),
      "q426: the rolled count plan must scan the MV, never the fact")
    // the sketch TABLE serves the uniques dashboard at any grain
    def grainEst(grain: String): Map[(String, String), Long] =
      ManifestTable.read(s, mvDir)
        .groupBy(trunc($"day", grain).as("g"), $"etype")
        .agg(hll_sketch_estimate(hll_union_agg($"hll_uid")).as("nd"))
        .as[(java.sql.Date, String, Long)].collect()
        .map { case (g, t, nd) => (g.toString, t) -> nd }.toMap
    def grainExact(grain: String): Map[(String, String), Long] =
      s.sql(s"SELECT trunc(day, '$grain') AS g, etype, " +
        "count(DISTINCT uid) AS x FROM graft_cat426.db.ev " +
        s"GROUP BY trunc(day, '$grain'), etype")
        .as[(java.sql.Date, String, Long)].collect()
        .map { case (g, t, x) => (g.toString, t) -> x }.toMap
    def requireAccurate(grain: String, tag: String)
        : Map[(String, String), Long] = {
      // estimate and exact are independent reads — overlap them
      // (guide §2.6); the estimate map returns for reuse
      val Seq(est, exact) = Relational.inParallelEval(Seq(
        () => grainEst(grain), () => grainExact(grain)))
      require(est.keySet == exact.keySet,
        s"q426: sketch-table groups must match ($grain, $tag)")
      est.foreach { case (k, nd) =>
        require(math.abs(nd - exact(k)).toDouble / exact(k) < 0.05,
          s"q426: estimate $nd vs exact ${exact(k)} for $k ($grain, $tag)") }
      est
    }
    val estMM = requireAccurate("MM", "initial")
    // the same dashboard as ONE CALL (r16): graft.system.uniques
    // re-grains the sketch table; HLL union is register-lossless and
    // order-independent, so the CALL's numbers EQUAL the hand-written
    // sketch SQL, not merely approximate it (estMM: the same base state,
    // computed once above)
    val called = s.sql("CALL graft_cat426.system.uniques('q426_mv', 'MM')")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(3))
      .toMap
    require(called == estMM,
      "q426: CALL uniques('q426_mv','MM') must equal the hand-written " +
        "sketch-table SQL at the same grain")
    // the overcount pin: summing DAILY uniques must STRICTLY exceed the
    // deduped month estimate for every type — the error a naive
    // sum-of-counts rollup bakes into the dashboard
    val naive = ManifestTable.read(s, mvDir)
      .select($"etype", hll_sketch_estimate($"hll_uid").as("nd"))
      .groupBy($"etype").agg(sum($"nd").as("naive"))
      .as[(String, Long)].collect().toMap
    grainEst("MM").foreach { case ((_, t), nd) =>
      require(naive(t) > nd,
        s"q426: naive sum of daily uniques (${naive(t)}) must overcount " +
          s"the deduped month estimate ($nd) for '$t'")
    }
    // insert window (sketch-union fold), then GDPR purge (re-sketch)
    ManifestTable.commit(src.where($"k" % 10 === 8)
      .select($"k", $"day", $"etype", $"uid"), evDir, append = true): Unit
    GraftMaterializedViews.refreshIncremental(s, "q426_mv")
    requireAccurate("WEEK", "after insert-only union fold")
    ManifestTable.delete(src.where($"k" % 10 === 3).select($"k"), evDir, "k")
    GraftMaterializedViews.refreshIncremental(s, "q426_mv")
    requireAccurate("WEEK", "after delete re-sketch")
    requireAccurate("MM", "final")
    GraftMaterializedViews.drop("q426_mv")
    // gate output: the EXACT final week × type counts (DuckDB-checkable)
    s.sql("SELECT trunc(day, 'WEEK') AS wk, etype, count(*) AS n_rows, " +
      "count(DISTINCT uid) AS n_users FROM graft_cat426.db.ev " +
      "GROUP BY trunc(day, 'WEEK'), etype ORDER BY wk, etype")
  }

  // q425: DISTINCT-COUNT MV VIA HLL SKETCH PARTIALS (r15) — the
  // second-most-common dashboard aggregate behind count/sum. Exact
  // distinct counts are not distributive (a count partial can neither
  // subtract a delete nor re-add across a coarser grain); sketches are:
  // the view stores an `hll_sketch_agg` partial per group (the q135
  // machinery), inserts fold by sketch UNION, deletes route through the
  // q419 touched-group re-sketch, and the MAINTAINED SKETCH TABLE is
  // the dashboard's serving surface. The automatic rewrite deliberately
  // REFUSES every sketch-derived base-query shape — estimate numbers
  // are merge-structure-dependent (DataSketches switches HIP →
  // composite estimation on union; SketchesSpec shows the direct and
  // the union-of-parts estimates differing at |set| = 1000), and
  // approximate-but-DIFFERENT is still a changed answer —
  // while the SAME view's exact count partials keep serving the rollup
  // lattice. Require-pinned: estimate and count(DISTINCT) probes fail
  // closed; the exact defSql serves; the global count(*) rolls up from
  // the view (plan-pinned); sketch-table estimates stay within 5% of
  // exact (lgK=12 ⇒ ~1.6% RSE) after BOTH refresh kinds. Gate output:
  // the EXACT per-type user counts over the final base,
  // DuckDB-recomputed — a lost delta or wrong touched set moves the
  // hash. At 100 TB: the uniques dashboard reads O(|groups|) sketch
  // bytes; a GDPR purge costs one touched-group re-sketch, never a
  // full rescan of history.
  def mvDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.ManifestTable
    val out = Scratch.dir("q425", dir)
    import graft.sources.v2.GraftMaterializedViews
    s.conf.set("spark.sql.catalog.graft_cat425", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat425.warehouse", out)
    val src = Tables(s, dir).events
      .select($"event_id".cast("long").as("k"), $"event_type".as("etype"),
        $"user_id".cast("long").as("uid")).localCheckpoint()
    src.createOrReplaceTempView("q425_src")
    s.sql("DROP TABLE IF EXISTS graft_cat425.db.ev")
    s.sql("CREATE TABLE graft_cat425.db.ev (k BIGINT, etype STRING, uid BIGINT)")
    s.sql("INSERT INTO graft_cat425.db.ev " +
      "SELECT k, etype, uid FROM q425_src WHERE k % 10 < 8")
    val evDir = s"$out/db/ev"
    val mvDir = s"$out/db/_mv_nd"
    val defSql = GraftMaterializedViews.registerAgg(s, "q425_mv",
      "graft_cat425.db.ev", evDir, Seq("etype"), Nil, mvDir,
      distinctCols = Seq("uid"))
    // fail-closed pins: no sketch-derived base-query shape substitutes
    val h0 = GraftMaterializedViews.hits("q425_mv")
    s.sql("SELECT etype, hll_sketch_estimate(hll_sketch_agg(uid)) AS nd " +
      "FROM graft_cat425.db.ev GROUP BY etype").collect(): Unit
    s.sql("SELECT etype, hll_sketch_agg(uid) AS sk " +
      "FROM graft_cat425.db.ev GROUP BY etype").collect(): Unit
    require(GraftMaterializedViews.hits("q425_mv") == h0,
      "q425: estimate and raw-sketch shapes must fail closed to the base")
    // the SAME view's exact partials still serve: defSql exact match +
    // the global count rollup (the containment lattice is alive)
    s.sql(defSql).collect(): Unit
    require(GraftMaterializedViews.hits("q425_mv") == h0 + 1,
      "q425: the exact definition must serve from the MV")
    val qg = s.sql("SELECT count(*) AS n FROM graft_cat425.db.ev")
    qg.collect(): Unit
    require(GraftMaterializedViews.hits("q425_mv") == h0 + 2,
      "q425: the global count must roll up the distinct view's partials")
    require(qg.queryExecution.executedPlan.toString.contains("_mv_nd"),
      "q425: the rolled plan must scan the MV")
    // the sketch TABLE serves the uniques dashboard; accuracy vs exact
    def requireAccurate(tag: String): Unit = {
      // the sketch-table estimate and the exact distinct scan are
      // independent reads — overlap them (guide §2.6)
      val Seq(est, exact) = Relational.inParallelEval(Seq(
        () => ManifestTable.read(s, mvDir)
          .select($"etype", hll_sketch_estimate($"hll_uid").as("nd"))
          .as[(String, Long)].collect().toMap,
        () => s.sql("SELECT etype, count(DISTINCT uid) AS x " +
          "FROM graft_cat425.db.ev GROUP BY etype")
          .as[(String, Long)].collect().toMap))
      require(est.keySet == exact.keySet,
        s"q425: the sketch table must cover every group ($tag)")
      est.foreach { case (t, nd) =>
        require(math.abs(nd - exact(t)).toDouble / exact(t) < 0.05,
          s"q425: estimate $nd vs exact ${exact(t)} for '$t' ($tag)") }
    }
    requireAccurate("initial")
    // insert-only window → the pure fold UNIONS the delta sketches in
    ManifestTable.commit(src.where($"k" % 10 === 8)
      .select($"k", $"etype", $"uid"), evDir, append = true): Unit
    GraftMaterializedViews.refreshIncremental(s, "q425_mv")
    requireAccurate("after insert-only union fold")
    // GDPR purge → sketches can't subtract: touched groups re-sketch
    ManifestTable.delete(src.where($"k" % 10 === 3).select($"k"), evDir, "k")
    GraftMaterializedViews.refreshIncremental(s, "q425_mv")
    requireAccurate("after delete re-sketch")
    GraftMaterializedViews.drop("q425_mv")
    // gate output: the EXACT final per-type counts (DuckDB-recomputable)
    s.sql("SELECT etype, count(*) AS n_rows, count(DISTINCT uid) AS n_users " +
      "FROM graft_cat425.db.ev GROUP BY etype ORDER BY etype")
  }

  // q424: N-TABLE SNOWFLAKE MV INCREMENTAL REFRESH (r15) — the TPC-H
  // Q9 shape (fact ⋈ dim ⋈ dim) as a maintained view. The telescoping
  // identity folds k change feeds in ONE refresh with one leg per
  // CHANGED side (N₁⋈…⋈N_{i-1} ⋈ Δᵢ ⋈ O_{i+1}⋈…⋈O_k — consecutive
  // terms cancel because the chain join is multilinear in each side),
  // so the k-way HISTORY join is never re-executed and an unchanged
  // side contributes nothing. The battery mutates ALL THREE bases in
  // one window — fact reprice + GDPR erase + fresh ingest, a FIRST-level
  // dim re-home (part rows migrate region keys) and a SECOND-level one
  // (a region renames) — then runs ONE incremental refresh.
  // Require-pinned: the exact query serves before and after (hits), the
  // refreshed MV scan is in the executed plan, and a coarser grouping
  // rolls up the snowflake MV (the containment lattice composes with
  // the k-table shape). Oracle: the final 3-way join recomputed from
  // scratch in DuckDB — a missed migration leg, a double-folded ΔF⋈ΔD
  // interaction, or a drifted counter moves the hash. At 100 TB: the
  // profit-rollup dashboard refreshes at O(Σ|deltas| ⋈ probes) instead
  // of re-joining the fact against every dimension nightly.
  def mvSnowflake(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.ManifestTable
    val out = Scratch.dir("q424", dir)
    import graft.sources.v2.GraftMaterializedViews
    s.conf.set("spark.sql.catalog.graft_cat424", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat424.warehouse", out)
    val keys = Tables(s, dir).orders
      .select($"o_orderkey".cast("long").as("k")).localCheckpoint()
    keys.createOrReplaceTempView("q424_keys")
    Seq("fact", "d1", "d2").foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS graft_cat424.db.$t"))
    s.sql("CREATE TABLE graft_cat424.db.fact (k BIGINT, pk BIGINT, cents BIGINT)")
    s.sql("CREATE TABLE graft_cat424.db.d1 (pk BIGINT, rk BIGINT, cat STRING)")
    s.sql("CREATE TABLE graft_cat424.db.d2 (rk BIGINT, region STRING)")
    s.sql("INSERT INTO graft_cat424.db.fact " +
      "SELECT k, k % 50, k * 3 FROM q424_keys WHERE k % 10 < 8")
    // tiny dims land as one file each (see q427's note)
    (0L until 50L).map(pk => (pk, pk % 7, s"c${pk % 4}"))
      .toDF("pk", "rk", "cat").coalesce(1).createOrReplaceTempView("q424_d1")
    s.sql("INSERT INTO graft_cat424.db.d1 SELECT * FROM q424_d1")
    (0L until 7L).map(rk => (rk, s"r$rk"))
      .toDF("rk", "region").coalesce(1).createOrReplaceTempView("q424_d2")
    s.sql("INSERT INTO graft_cat424.db.d2 SELECT * FROM q424_d2")
    val (fDir, d1Dir, d2Dir) =
      (s"$out/db/fact", s"$out/db/d1", s"$out/db/d2")
    val defSql = GraftMaterializedViews.registerSnowflakeAgg(s, "q424_mv",
      Seq("graft_cat424.db.fact" -> fDir, "graft_cat424.db.d1" -> d1Dir,
        "graft_cat424.db.d2" -> d2Dir),
      Seq("pk", "rk"), Seq("region", "cat"), Seq("cents"), s"$out/db/_mv_snow")
    val h0 = GraftMaterializedViews.hits("q424_mv")
    s.sql(defSql).collect(): Unit
    require(GraftMaterializedViews.hits("q424_mv") == h0 + 1,
      "q424: the exact snowflake query must serve from the MV")
    // ONE maintenance window touching ALL THREE bases
    ManifestTable.merge(keys.where($"k" % 10 === 3)
      .select($"k", ($"k" % 50).as("pk"), ($"k" * 7).as("cents")), fDir, "k")
    ManifestTable.delete(keys.where($"k" % 10 === 4).select($"k"), fDir, "k")
    ManifestTable.commit(keys.where($"k" % 10 === 8)
      .select($"k", ($"k" % 50).as("pk"), ($"k" * 3).as("cents")),
      fDir, append = true): Unit
    ManifestTable.merge((0L until 50L).filter(_ % 5 == 0)
      .map(pk => (pk, (pk + 1) % 7, s"c${pk % 4}"))
      .toDF("pk", "rk", "cat"), d1Dir, "pk")
    ManifestTable.merge(Seq((2L, "rX")).toDF("rk", "region"), d2Dir, "rk")
    GraftMaterializedViews.refreshIncremental(s, "q424_mv")
    val q = s.sql(defSql)
    q.collect(): Unit
    require(GraftMaterializedViews.hits("q424_mv") == h0 + 2,
      "q424: the telescoped refresh must re-arm the exact rewrite")
    require(q.queryExecution.executedPlan.toString.contains("_mv_snow"),
      "q424: the served plan must scan the refreshed MV, not re-join")
    // the containment lattice composes with the k-table shape
    val rq = s.sql("SELECT region, sum(cents) AS s FROM graft_cat424.db.fact " +
      "JOIN graft_cat424.db.d1 USING (pk) JOIN graft_cat424.db.d2 USING (rk) " +
      "GROUP BY region")
    rq.collect(): Unit
    require(GraftMaterializedViews.hits("q424_mv") == h0 + 3,
      "q424: the coarser grouping must roll up the snowflake MV")
    require(rq.queryExecution.executedPlan.toString.contains("_mv_snow"),
      "q424: the rolled plan must scan the MV, never re-join the fact")
    GraftMaterializedViews.drop("q424_mv")
    q.orderBy($"region", $"cat")
  }

  // q423: TIME-HIERARCHY MV CONTAINMENT (r15) — the single most common
  // production containment: a DAY-grain view serving the month/quarter/
  // year dashboards beneath it. The rollup rewrite now admits query
  // group keys that are DETERMINISTIC EXPRESSIONS over view group keys
  // (`trunc(day,'MM')`, `year(day)`, …): keys are constant within an MV
  // group, so any function of keys is too, and re-grouping the MV by
  // the remapped expression merges exactly the day-groups sharing the
  // coarser grain — count/sum partials fold associatively across the
  // refinement. Require-pinned: the month dashboard AND a
  // year+WHERE-transfer query serve (hits + MV scan in the executed
  // plan) while a group expression referencing a NON-key column fails
  // closed. The gate output is the month × type dashboard,
  // oracle-recomputed from the raw events — a wrong grain merge or a
  // partial mis-fold moves the hash. At 100 TB: ONE day-grain view
  // (O(|days × types|) rows) serves every calendar rollup a dashboard
  // asks, and the fact table is never re-scanned for any of them.
  def mvTimeHierarchy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q423", dir)
    import graft.sources.v2.GraftMaterializedViews
    s.conf.set("spark.sql.catalog.graft_cat423", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat423.warehouse", out)
    Tables(s, dir).events
      .select($"ts".cast("date").as("day"), $"event_type".as("etype"),
        ($"event_id" % 997).cast("long").as("cents"))
      .createOrReplaceTempView("q423_src")
    s.sql("DROP TABLE IF EXISTS graft_cat423.db.ev")
    s.sql("CREATE TABLE graft_cat423.db.ev (day DATE, etype STRING, cents BIGINT)")
    s.sql("INSERT INTO graft_cat423.db.ev SELECT day, etype, cents FROM q423_src")
    GraftMaterializedViews.registerAgg(s, "q423_mv",
      "graft_cat423.db.ev", s"$out/db/ev", Seq("day", "etype"),
      Seq("cents"), s"$out/db/_mv_day")
    val h0 = GraftMaterializedViews.hits("q423_mv")
    // the MONTH dashboard — never registered as its own view: the
    // day-grain MV serves it through the grain-of-grain rewrite
    val mon = "SELECT trunc(day, 'MM') AS mon, etype, count(*) AS n_rows, " +
      "sum(cents) AS sum_cents FROM graft_cat423.db.ev " +
      "GROUP BY trunc(day, 'MM'), etype"
    val q = s.sql(mon)
    q.collect(): Unit
    require(GraftMaterializedViews.hits("q423_mv") == h0 + 1,
      "q423: the month dashboard must be served from the day-grain MV")
    require(q.queryExecution.executedPlan.toString.contains("_mv_day"),
      "q423: the month plan must scan the MV table, not the base")
    // the YEAR grain with a group-key WHERE: both transfer to MV rows
    val qy = s.sql("SELECT year(day) AS y, sum(cents) AS s " +
      "FROM graft_cat423.db.ev WHERE etype = 'click' GROUP BY year(day)")
    qy.collect(): Unit
    require(GraftMaterializedViews.hits("q423_mv") == h0 + 2,
      "q423: the filtered year grain must be served from the day-grain MV")
    require(qy.queryExecution.executedPlan.toString.contains("_mv_day"),
      "q423: the year plan must scan the MV table, not the base")
    // fail-closed probe: a grain derived from a NON-key column cannot
    // be reproduced from the stored day groups
    s.sql("SELECT cents % 10 AS b, count(*) AS n " +
      "FROM graft_cat423.db.ev GROUP BY cents % 10").collect(): Unit
    require(GraftMaterializedViews.hits("q423_mv") == h0 + 2,
      "q423: a non-key grain must fail closed to the base")
    GraftMaterializedViews.drop("q423_mv")
    q.orderBy($"mon", $"etype")
  }

  // q352: COPY-ON-WRITE UPDATE, stats-bounded — the third row-level verb
  // (deleteWhere = merge-on-read erase, merge = keyed upsert, updateWhere
  // = arbitrary-predicate mutation). The write path derives per-column
  // bounds from the predicate's conjuncts and rewrites ONLY the files
  // whose manifest min/max overlap them — the SAME stats stack that
  // prunes reads bounds the write, so on a date-clustered 100 TB table
  // an UPDATE over one year rewrites that year and carries every other
  // manifest line forward VERBATIM. Requires pin the touch set
  // (updatePruneInfo = 2 rewritten / 12 carried of the 7 year-clustered
  // commits), pin that the carried files are bit-the-same paths (no
  // rewrite), and pin time travel to the pre-update snapshot. The
  // emitted post-update aggregate hash-checks against the oracle's
  // relational UPDATE recompute — one wrongly-skipped file (a row that
  // matched the predicate inside an un-rewritten file) breaks the hash.
  def updateWhereFace(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q352", dir)
    import graft.sources.ManifestTable
    val rows = Tables(s, dir).orders
      .select($"o_orderkey", $"o_orderpriority",
        round($"o_totalprice" * 100).cast("long").as("cents"),
        datediff($"o_orderdate".cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("d"),
        year($"o_orderdate").as("y"))
    (1995 to 2001).foreach { y =>
      ManifestTable.commit(rows.filter($"y" === y).drop("y").repartition(2),
        out, append = y > 1995)
    }
    val lo = java.time.LocalDate.of(1996, 1, 1).toEpochDay.toDouble
    val hi = java.time.LocalDate.of(1996, 12, 31).toEpochDay.toDouble
    val pred = $"d" >= lo && $"d" <= hi && $"o_orderpriority" === "1-URGENT"
    val (touch, carry) = ManifestTable.updatePruneInfo(out, pred)
    require(touch == 2 && carry == 12,
      s"q352: the 1996 window must touch 2 of 14 files, got ($touch, $carry)")
    val beforeFiles = ManifestTable.read(s, out, 7).inputFiles.toSet
    val beforeCount = ManifestTable.read(s, out, 7).count()
    val v8 = ManifestTable.updateWhere(s, out, pred,
      Map("cents" -> ($"cents" + 1000L),
          "o_orderpriority" -> lit("1-URGENT-REPRICED")))
    require(v8 == 8, s"q352: update must commit v8, got v$v8")
    val afterFiles = ManifestTable.read(s, out, 8).inputFiles.toSet
    val carried = afterFiles.intersect(beforeFiles)
    require(carried.size == 12 && (afterFiles -- beforeFiles).forall(_.contains("commit-8")),
      s"q352: 12 files must carry forward verbatim, only the touch set rewrites")
    require(ManifestTable.read(s, out, 7).count() == beforeCount,
      "q352: time travel to the pre-update snapshot must be intact")
    ManifestTable.read(s, out)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
      .orderBy($"o_orderpriority")
  }

  // q355: VACUUM — referenced-set orphan GC, the storage-hygiene verb
  // that completes the maintenance trio (compact = layout, expire =
  // history, vacuum = failure debris). The face manufactures the three
  // real orphan shapes the commit protocol leaves behind by design — a
  // writer that staged bytes and died before publish (staging/), an
  // optimistic writer's crashed lost-CAS directory (data/commit-N-id
  // never referenced), an aborted DSv2 job's _staging/ — then vacuums
  // with grace 0 and pins: every orphan byte reclaimed, every referenced
  // file of EVERY version still on disk (time travel bit-intact,
  // require-checked against the pre-vacuum v1 aggregate), and a second
  // vacuum reclaims zero (idempotent). The emitted aggregate is the
  // post-vacuum table content, hash-checked relationally — a vacuum that
  // swept a referenced file breaks the hash or the v1 require.
  def vacuumFace(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q355", dir)
    import graft.sources.ManifestTable
    val rows = Tables(s, dir).orders
      .select($"o_orderkey", $"o_orderpriority",
        round($"o_totalprice" * 100).cast("long").as("cents"),
        year($"o_orderdate").as("y"))
    ManifestTable.commit(rows.filter($"y" <= 1997).drop("y"), out, append = false)
    ManifestTable.commit(rows.filter($"y" > 1997).drop("y"), out, append = true)
    val v1Sum = ManifestTable.read(s, out, 1).agg(sum($"cents")).head.getLong(0)
    // the three orphan shapes, written where real failures leave them
    val junk = rows.limit(100).drop("y")
    junk.write.parquet(s"$out/staging/opt-deadwriter")
    junk.write.parquet(s"$out/data/commit-99-deadbeefdead")
    junk.write.parquet(s"$out/_staging/aborted-job-uuid")
    val (n1, bytes1) = ManifestTable.vacuum(out, graceMs = 0)
    require(n1 > 0 && bytes1 > 0,
      s"q355: vacuum must reclaim the orphan files, got ($n1, $bytes1)")
    require(!new java.io.File(s"$out/staging/opt-deadwriter").exists() &&
      !new java.io.File(s"$out/data/commit-99-deadbeefdead").exists() &&
      !new java.io.File(s"$out/_staging/aborted-job-uuid").exists(),
      "q355: all three orphan directories must be gone")
    require(ManifestTable.read(s, out, 1).agg(sum($"cents")).head.getLong(0) == v1Sum,
      "q355: time travel to v1 must be bit-intact after vacuum")
    val (n2, _) = ManifestTable.vacuum(out, graceMs = 0)
    require(n2 == 0, s"q355: a second vacuum must reclaim nothing, got $n2")
    ManifestTable.read(s, out)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
      .orderBy($"o_orderpriority")
  }

  // q357: SQL DELETE FROM — the verb that completes the catalog's SQL
  // surface (CREATE / INSERT [OVERWRITE] / SELECT with VERSION AS OF +
  // TIMESTAMP AS OF / DELETE). The catalog table accepts the pushed
  // source filters, rebuilds the predicate, and routes to the
  // copy-on-write delete: stats bounds limit the rewrite to overlapping
  // files (2 of 7 year files pinned via updatePruneInfo — the write is
  // bounded by the SAME metadata that prunes reads), rows where the
  // predicate is NULL survive (SQL DELETE semantics), and the post-
  // delete snapshot carries no delete entries, so every subsequent SQL
  // verb keeps working without a compaction step. Time travel across
  // the delete is proven THROUGH SQL (VERSION AS OF the pre-delete
  // head); both stages hash-check against the oracle's recompute.
  def sqlDelete(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q357", dir)
    // own catalog NAME per face: a catalog instance caches its warehouse
    // at first resolution, so q348's "graft_cat" must not be reused here
    s.conf.set("spark.sql.catalog.graft_cat357", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat357.warehouse", out)
    Tables(s, dir).orders
      .select($"o_orderkey", $"o_orderpriority",
        round($"o_totalprice" * 100).cast("long").as("cents"),
        datediff($"o_orderdate".cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("d"),
        year($"o_orderdate").as("y"))
      .createOrReplaceTempView("q357_src")
    s.sql("DROP TABLE IF EXISTS graft_cat357.db.del_t")
    s.sql("""CREATE TABLE graft_cat357.db.del_t
            |(o_orderkey BIGINT, o_orderpriority STRING, cents BIGINT, d BIGINT)
            |""".stripMargin)
    (1995 to 2001).foreach { y =>
      s.sql(s"""INSERT INTO graft_cat357.db.del_t
               |SELECT /*+ REPARTITION(1) */ o_orderkey, o_orderpriority, cents, d
               |FROM q357_src WHERE y = $y""".stripMargin)
    }
    import graft.sources.ManifestTable
    val tblDir = s"$out/db/del_t"
    val lo = java.time.LocalDate.of(1996, 1, 1).toEpochDay
    val hi = java.time.LocalDate.of(1996, 12, 31).toEpochDay
    val (touch, carry) = ManifestTable.updatePruneInfo(tblDir,
      $"d" >= lo.toDouble && $"d" <= hi.toDouble)
    require(touch == 1 && carry == 6,
      s"q357: the 1996 window must touch 1 of 7 year files, got ($touch, $carry)")
    val beforeFiles = ManifestTable.read(s, tblDir, 7).inputFiles.toSet
    s.sql(s"""DELETE FROM graft_cat357.db.del_t
             |WHERE d >= $lo AND d <= $hi AND o_orderpriority = '1-URGENT'
             |""".stripMargin)
    require(ManifestTable.currentVersion(tblDir) == 8,
      "q357: DELETE must land as one copy-on-write commit (v8)")
    val afterFiles = ManifestTable.read(s, tblDir, 8).inputFiles.toSet
    require(afterFiles.intersect(beforeFiles).size == 6 &&
      (afterFiles -- beforeFiles).forall(_.contains("commit-8")),
      "q357: six year files must carry forward verbatim")
    def agg(stage: String, from: String) = s.sql(
      s"""SELECT '$stage' AS stage, o_orderpriority,
         |  count(*) AS n_rows, sum(cents) AS total_cents
         |FROM $from GROUP BY o_orderpriority""".stripMargin)
    agg("1_before", "graft_cat357.db.del_t VERSION AS OF 7")
      .unionByName(agg("2_after_delete", "graft_cat357.db.del_t"))
      .orderBy($"stage", $"o_orderpriority")
  }

  // q360: SQL UPDATE + MERGE INTO — the last two verbs, through Spark's
  // group-based row-level rewrite (ReplaceData): the operation's scan
  // reads the current snapshot, Spark applies the UPDATE/MERGE logic,
  // and the result lands as ONE overwrite commit through the same
  // staged-write protocol as INSERT OVERWRITE — so both mutations are
  // time-travelable snapshots (VERSION AS OF pins below) and the
  // catalog's SQL surface is now the complete verb matrix: CREATE /
  // INSERT [OVERWRITE] / SELECT (+ VERSION AS OF / TIMESTAMP AS OF) /
  // DELETE / UPDATE / MERGE INTO / TRUNCATE / ALTER ADD COLUMNS / DROP.
  // This face runs the always-correct full-table copy-on-write (the
  // ReplaceData discipline: `__row_operation` marker handled at the
  // writer); the stats-bounded variants stay the library verbs
  // (updateWhere q352, deleteWhereCow q357, merge q343). Both stages
  // hash-check against the oracle's relational recompute.
  def sqlUpdateMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q360", dir)
    s.conf.set("spark.sql.catalog.graft_cat360", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat360.warehouse", out)
    Tables(s, dir).orders
      .select($"o_orderkey", $"o_orderpriority",
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q360_src")
    s.sql("DROP TABLE IF EXISTS graft_cat360.db.mut_t")
    s.sql("""CREATE TABLE graft_cat360.db.mut_t
            |(o_orderkey BIGINT, o_orderpriority STRING, cents BIGINT)
            |""".stripMargin)
    s.sql("INSERT INTO graft_cat360.db.mut_t SELECT * FROM q360_src")
    s.sql("""UPDATE graft_cat360.db.mut_t SET cents = cents + 1000
            |WHERE o_orderpriority = '1-URGENT'""".stripMargin)
    import graft.sources.ManifestTable
    val tblDir = s"$out/db/mut_t"
    require(ManifestTable.currentVersion(tblDir) == 2,
      "q360: UPDATE must land as one overwrite commit (v2)")
    s.sql("""MERGE INTO graft_cat360.db.mut_t t
            |USING (SELECT o_orderkey, 'MERGED' AS o_orderpriority,
            |         cents + 7 AS cents FROM q360_src WHERE o_orderkey % 97 = 0
            |       UNION ALL
            |       SELECT o_orderkey + 10000000, 'NEW', 777 FROM q360_src
            |       WHERE o_orderkey % 53 = 0) s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED THEN UPDATE SET
            |  o_orderpriority = s.o_orderpriority, cents = s.cents
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    require(ManifestTable.currentVersion(tblDir) == 3,
      "q360: MERGE must land as one overwrite commit (v3)")
    def agg(stage: String, from: String) = s.sql(
      s"""SELECT '$stage' AS stage, o_orderpriority,
         |  count(*) AS n_rows, sum(cents) AS total_cents
         |FROM $from GROUP BY o_orderpriority""".stripMargin)
    require(s.sql("SELECT count(*) FROM graft_cat360.db.mut_t VERSION AS OF 1")
      .head.getLong(0) == s.sql("SELECT count(*) FROM q360_src").head.getLong(0),
      "q360: time travel to the pre-mutation snapshot must be intact")
    agg("1_after_update", "graft_cat360.db.mut_t VERSION AS OF 2")
      .unionByName(agg("2_after_merge", "graft_cat360.db.mut_t"))
      .orderBy($"stage", $"o_orderpriority")
  }

  // q365: DELTA row-level SQL — UPDATE / MERGE INTO / DELETE on a KEYED
  // table (TBLPROPERTIES 'write.key') land as O(|touched rows|)
  // merge-on-read commits instead of q360's full-table ReplaceData
  // rewrite: Spark's SupportsDelta rewrite hands the operation as per-row
  // delete(id)/insert(row) deltas, each mutation publishes ONE manifest
  // version pairing an equality-delete of the touched keys with an
  // append of the replacement rows, and SELECT serves the result through
  // the catalog's merge-on-read scan (delete-scope groups + broadcast
  // key sets — GraftMoRScan). The asymptotic pin is the whole point: the
  // require()s below prove EVERY pre-mutation data file is still
  // referenced verbatim after all three mutations (zero rewrites), which
  // is what makes a 0.01% UPDATE affordable on a 100 TB table. Three
  // stage aggregates hash-check against the oracle's relational
  // recompute of the same update+merge+delete pipeline.
  def sqlDeltaUpdateMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q365", dir)
    s.conf.set("spark.sql.catalog.graft_cat365", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat365.warehouse", out)
    Tables(s, dir).orders
      .select($"o_orderkey", $"o_orderpriority",
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q365_src")
    s.sql("DROP TABLE IF EXISTS graft_cat365.db.kd_t")
    s.sql("""CREATE TABLE graft_cat365.db.kd_t
            |(o_orderkey BIGINT, o_orderpriority STRING, cents BIGINT)
            |TBLPROPERTIES('write.key'='o_orderkey')""".stripMargin)
    s.sql("INSERT INTO graft_cat365.db.kd_t " +
      "SELECT /*+ REPARTITION(8) */ * FROM q365_src")
    import graft.sources.ManifestTable
    val tblDir = s"$out/db/kd_t"
    val baseFiles = ManifestTable.sqlEntriesAt(tblDir, 1)
      .filter(_.isData).map(_.path).toSet
    require(baseFiles.size >= 4, s"q365: need a multi-file base, got ${baseFiles.size}")
    def deltaPin(v: Int, verb: String): Unit = {
      require(ManifestTable.currentVersion(tblDir) == v,
        s"q365: $verb must land as exactly one delta commit (v$v)")
      val es = ManifestTable.sqlEntriesAt(tblDir, v)
      require(baseFiles.subsetOf(es.filter(_.isData).map(_.path).toSet),
        s"q365: $verb rewrote base data files — the delta contract is zero rewrites")
      require(es.exists(_.deleteKey.contains("o_orderkey")),
        s"q365: $verb must carry an equality-delete of the touched keys")
    }
    s.sql("""UPDATE graft_cat365.db.kd_t SET cents = cents + 1000
            |WHERE o_orderpriority = '1-URGENT'""".stripMargin)
    deltaPin(2, "UPDATE")
    s.sql("""MERGE INTO graft_cat365.db.kd_t t
            |USING (SELECT o_orderkey, 'MERGED' AS o_orderpriority,
            |         cents + 7 AS cents FROM q365_src WHERE o_orderkey % 97 = 0
            |       UNION ALL
            |       SELECT o_orderkey + 10000000, 'NEW', 777 FROM q365_src
            |       WHERE o_orderkey % 53 = 0) s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED THEN UPDATE SET
            |  o_orderpriority = s.o_orderpriority, cents = s.cents
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    deltaPin(3, "MERGE")
    s.sql("DELETE FROM graft_cat365.db.kd_t WHERE o_orderkey % 101 = 0")
    deltaPin(4, "DELETE")
    require(s.sql("SELECT count(*) FROM graft_cat365.db.kd_t VERSION AS OF 1")
      .head.getLong(0) == s.sql("SELECT count(*) FROM q365_src").head.getLong(0),
      "q365: time travel to the pre-mutation snapshot must be intact")
    def agg(stage: String, from: String) = s.sql(
      s"""SELECT '$stage' AS stage, o_orderpriority,
         |  count(*) AS n_rows, sum(cents) AS total_cents
         |FROM $from GROUP BY o_orderpriority""".stripMargin)
    agg("1_after_update", "graft_cat365.db.kd_t VERSION AS OF 2")
      .unionByName(agg("2_after_merge", "graft_cat365.db.kd_t VERSION AS OF 3"))
      .unionByName(agg("3_after_delete", "graft_cat365.db.kd_t"))
      .orderBy($"stage", $"o_orderpriority")
  }

  // q379: the FULL MERGE matrix in one statement — five clauses spanning
  // every direction the SQL standard allows: conditional MATCHED UPDATE,
  // conditional MATCHED DELETE, NOT MATCHED INSERT, and the Spark-4
  // NOT MATCHED BY SOURCE pair (conditional DELETE + catch-all UPDATE),
  // on a keyed table so the whole matrix lands as ONE O(|touched rows|)
  // delta commit (equality-delete + append — zero data files rewritten,
  // require-pinned). NOT MATCHED BY SOURCE is the leg that turns MERGE
  // into full table synchronization ("make the target look like the
  // source, with policies"): at 100 TB it replaces the
  // full-outer-join-and-rewrite job a naive engine runs nightly, and its
  // cost here is exactly the touch set the clauses name — matched rows
  // ride the join, unmatched target rows ride the anti side, and
  // untouched files are never opened for rewrite. Hash-checked against
  // the oracle's relational recompute of the same five-way CASE.
  def sqlMergeMatrix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q379", dir)
    s.conf.set("spark.sql.catalog.graft_cat379", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat379.warehouse", out)
    Tables(s, dir).orders
      .select($"o_orderkey", round($"o_totalprice" * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q379_src")
    s.sql("""CREATE TABLE graft_cat379.db.sync
            |(o_orderkey BIGINT, cents BIGINT)
            |TBLPROPERTIES('write.key'='o_orderkey')""".stripMargin)
    s.sql("""INSERT INTO graft_cat379.db.sync
            |SELECT /*+ REPARTITION(8) */ * FROM q379_src
            |WHERE o_orderkey % 4 <> 3""".stripMargin)
    import graft.sources.ManifestTable
    val tblDir = s"$out/db/sync"
    val baseFiles = ManifestTable.sqlEntriesAt(tblDir, 1)
      .filter(_.isData).map(_.path).toSet
    s.sql("""MERGE INTO graft_cat379.db.sync t
            |USING (SELECT o_orderkey, cents + 7 AS cents FROM q379_src
            |       WHERE o_orderkey % 2 = 0) s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED AND s.cents % 5 = 0 THEN UPDATE SET cents = s.cents
            |WHEN MATCHED AND s.cents % 5 = 1 THEN DELETE
            |WHEN NOT MATCHED THEN INSERT (o_orderkey, cents)
            |  VALUES (s.o_orderkey, s.cents)
            |WHEN NOT MATCHED BY SOURCE AND cents % 7 = 0 THEN DELETE
            |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET cents = cents + 1
            |""".stripMargin)
    require(ManifestTable.currentVersion(tblDir) == 2,
      "q379: the five-clause MERGE must land as exactly one delta commit")
    val es = ManifestTable.sqlEntriesAt(tblDir, 2)
    require(baseFiles.subsetOf(es.filter(_.isData).map(_.path).toSet),
      "q379: the MERGE rewrote base data files — the delta contract is zero rewrites")
    require(es.exists(_.deleteKey.contains("o_orderkey")),
      "q379: the MERGE must carry an equality-delete of the touched keys")
    require(s.sql("SELECT count(*) FROM graft_cat379.db.sync VERSION AS OF 1")
      .head.getLong(0) ==
      s.sql("SELECT count(*) FROM q379_src WHERE o_orderkey % 4 <> 3")
        .head.getLong(0),
      "q379: time travel to the pre-merge snapshot must be intact")
    s.sql("""SELECT o_orderkey % 10 AS bucket, count(*) AS n_rows,
            |       sum(cents) AS total_cents
            |FROM graft_cat379.db.sync
            |GROUP BY o_orderkey % 10 ORDER BY bucket""".stripMargin)
  }

  // q366: RUNTIME file pruning for catalog star joins — the SQL face's
  // dynamic partition pruning. The fact table declares `write.order` on
  // the join key, so every file covers a disjoint key range; the scan
  // advertises its stats-bearing columns via SupportsRuntimeV2Filtering;
  // and Spark's DPP machinery hands the fact scan an IN-list of the keys
  // the filtered dimension actually selects — the manifest then drops
  // whole files BEFORE any footer opens, at RUN time, from a filter the
  // optimizer could not know statically. The require() pins the shrink
  // (planned files after runtime filtering < before); the join result
  // hash-checks against the oracle. At 100 TB this is the difference
  // between scanning a fact table and scanning the 2% of it one
  // dimension slice touches.
  def sqlRuntimeDpp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q366", dir)
    s.conf.set("spark.sql.catalog.graft_cat366", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat366.warehouse", out)
    // the classic DPP shape: a fact clustered by DAY and a calendar
    // dimension — a one-month dim slice selects ~30 CONTIGUOUS day keys,
    // which is exactly what per-file [min,max] stats can prune on (a
    // value-scattered slice, e.g. "customers of nation 7", hits every
    // file and prunes nothing at any scale)
    Tables(s, dir).orders
      .select(
        datediff($"o_orderdate", lit("1970-01-01").cast("date"))
          .cast("long").as("d"),
        $"o_orderkey", round($"o_totalprice" * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q366_fact_src")
    Tables(s, dir).orders
      .select(
        datediff($"o_orderdate", lit("1970-01-01").cast("date"))
          .cast("long").as("d"),
        year($"o_orderdate").cast("long").as("y"),
        month($"o_orderdate").cast("long").as("m"))
      .distinct()
      .createOrReplaceTempView("q366_dim_src")
    s.sql("DROP TABLE IF EXISTS graft_cat366.db.fact")
    s.sql("DROP TABLE IF EXISTS graft_cat366.db.dim")
    s.sql("""CREATE TABLE graft_cat366.db.fact
            |(d BIGINT, o_orderkey BIGINT, cents BIGINT)
            |TBLPROPERTIES('write.order'='d',
            |              'write.order.partitions'='8')""".stripMargin)
    s.sql("INSERT INTO graft_cat366.db.fact SELECT * FROM q366_fact_src")
    s.sql("""CREATE TABLE graft_cat366.db.dim
            |(d BIGINT, y BIGINT, m BIGINT)""".stripMargin)
    s.sql("INSERT INTO graft_cat366.db.dim SELECT * FROM q366_dim_src")
    graft.sources.v2.GraftTrackedScan.runtimeLog.remove("db.fact")
    // the dim is the build side BY CONSTRUCTION (at tiny test scales the
    // planner might otherwise broadcast the fact, and DPP only prunes the
    // probe side). AQE is off for THIS query only: under AQE an
    // onlyInBroadcast DPP subquery races stage scheduling — if the fact
    // stage plans before the dim broadcast materializes, the filter
    // degrades to `true` and the pin flakes; the non-adaptive planner
    // reuses the broadcast deterministically (the pruning itself is the
    // scan's, not AQE's).
    val aqeWas = s.conf.get("spark.sql.adaptive.enabled", "true")
    val res = try {
      s.conf.set("spark.sql.adaptive.enabled", "false")
      val r = s.sql(
        """SELECT /*+ BROADCAST(d) */ d.y AS y, d.m AS m,
          |  count(*) AS n_orders, sum(f.cents) AS total_cents
          |FROM graft_cat366.db.fact f
          |JOIN graft_cat366.db.dim d ON f.d = d.d
          |WHERE d.y = 1996 AND d.m = 3
          |GROUP BY d.y, d.m ORDER BY y, m""".stripMargin)
      r.collect() // execute once: runtime filtering happens at execution
      r
    } finally s.conf.set("spark.sql.adaptive.enabled", aqeWas)
    val log = graft.sources.v2.GraftTrackedScan.runtimeLog.get("db.fact")
    require(log != null, "q366: the runtime filter must reach the fact scan")
    require(log._2 < log._1,
      s"q366: DPP must shrink the fact file set at runtime, got ${log._2}/${log._1}")
    res
  }

  // q367: BOUNDED group copy-on-write — SQL UPDATE on an UNKEYED table
  // (no write.key, so the delta path is unavailable) now rewrites only
  // the files that can contain matching rows: Spark's group-based scan
  // planning pushes the command condition, the manifest prunes the scan
  // to stats-overlapping files, and the commit replaces EXACTLY the
  // scanned set while every other line — data files with their stats,
  // delete entries — carries forward verbatim
  // (a ManifestTable.publish replace-set commit). q360 keeps the degenerate shape
  // (unprunable condition → full rewrite); this face pins the bounded
  // one: survivors > 0 AND rewritten ≪ total, hash-green across two
  // stages against the oracle's relational recompute.
  def sqlBoundedGroupCow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q367", dir)
    s.conf.set("spark.sql.catalog.graft_cat367", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat367.warehouse", out)
    Tables(s, dir).orders
      .select($"o_orderkey", $"o_orderpriority",
        datediff($"o_orderdate", lit("1970-01-01").cast("date"))
          .cast("long").as("d"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q367_src")
    s.sql("DROP TABLE IF EXISTS graft_cat367.db.cow_t")
    s.sql("""CREATE TABLE graft_cat367.db.cow_t
            |(o_orderkey BIGINT, o_orderpriority STRING, d BIGINT, cents BIGINT)
            |TBLPROPERTIES('write.order'='d','write.order.partitions'='8')""".stripMargin)
    s.sql("INSERT INTO graft_cat367.db.cow_t SELECT * FROM q367_src")
    import graft.sources.ManifestTable
    val tblDir = s"$out/db/cow_t"
    val v1Files = ManifestTable.sqlEntriesAt(tblDir, 1).filter(_.isData).map(_.path)
    require(v1Files.size >= 4, s"q367: need a clustered multi-file base, got ${v1Files.size}")
    // one-year window on the clustered day column: statically prunable
    val lo = java.time.LocalDate.parse("1996-01-01").toEpochDay
    val hi = java.time.LocalDate.parse("1996-12-31").toEpochDay
    s.sql(s"""UPDATE graft_cat367.db.cow_t SET cents = cents + 5
             |WHERE d BETWEEN $lo AND $hi""".stripMargin)
    require(ManifestTable.currentVersion(tblDir) == 2,
      "q367: UPDATE must land as one bounded copy-on-write commit (v2)")
    val v2Files = ManifestTable.sqlEntriesAt(tblDir, 2).filter(_.isData).map(_.path)
    val survivors = v1Files.toSet.intersect(v2Files.toSet)
    require(survivors.nonEmpty && survivors.size < v1Files.size,
      s"q367: bounded rewrite expected — ${survivors.size} survivors of ${v1Files.size}")
    require(s.sql("SELECT count(*) FROM graft_cat367.db.cow_t VERSION AS OF 1")
      .head.getLong(0) == s.sql("SELECT count(*) FROM q367_src").head.getLong(0),
      "q367: time travel to the pre-mutation snapshot must be intact")
    s.sql(
      """SELECT o_orderpriority, count(*) AS n_rows, sum(cents) AS total_cents
        |FROM graft_cat367.db.cow_t
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  // q368: the branch WAP loop ENTIRELY through the public API — zero
  // library imports in the query code. `CALL graft.system.create_branch`
  // forks, `df.writeTo(...).option("branch", ...)` appends to the fork
  // (main provably pinned by a count require between the writes),
  // `.option("branch", ...)` on the reader audits the experiment, and
  // `CALL graft.system.fast_forward` publishes the audited lineage onto
  // main as pure metadata. Spark 4's ProcedureCatalog + the DSv2 writer
  // option close the last branch legs that previously needed
  // ManifestTable imports (q349/q364 did the fork/ff via the library).
  // The post-ff aggregate hash-checks against the oracle's recompute of
  // base ∪ experiment rows.
  def sqlBranchWap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q368", dir)
    s.conf.set("spark.sql.catalog.graft_cat368", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat368.warehouse", out)
    Tables(s, dir).orders
      .select($"o_orderkey", $"o_orderpriority",
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q368_src")
    s.sql("DROP TABLE IF EXISTS graft_cat368.db.wap_t")
    s.sql("""CREATE TABLE graft_cat368.db.wap_t
            |(o_orderkey BIGINT, o_orderpriority STRING, cents BIGINT)""".stripMargin)
    s.sql("INSERT INTO graft_cat368.db.wap_t " +
      "SELECT * FROM q368_src WHERE o_orderkey % 3 <> 0")
    val fork = s.sql("CALL graft_cat368.system.create_branch('db.wap_t', 'exp')")
      .head.getLong(0)
    require(fork == 1, s"q368: fork at the current version, got $fork")
    // two experiment appends — ONLY on the branch
    s.table("q368_src").filter($"o_orderkey" % 3 === 0 && $"o_orderkey" % 2 === 0)
      .writeTo("graft_cat368.db.wap_t").option("branch", "exp").append()
    val mainBetween = s.sql("SELECT count(*) FROM graft_cat368.db.wap_t")
      .head.getLong(0)
    s.table("q368_src").filter($"o_orderkey" % 3 === 0 && $"o_orderkey" % 2 === 1)
      .writeTo("graft_cat368.db.wap_t").option("branch", "exp").append()
    val total = s.sql("SELECT count(*) FROM q368_src").head.getLong(0)
    require(mainBetween == s.sql(
      "SELECT count(*) FROM q368_src WHERE o_orderkey % 3 <> 0").head.getLong(0),
      "q368: branch writes must be invisible on main")
    // audit the whole experiment through the reader option
    val audited = s.read.option("branch", "exp")
      .table("graft_cat368.db.wap_t").count()
    require(audited == total, s"q368: branch head must hold all rows, got $audited/$total")
    // audited → publish: pure-metadata fast-forward through SQL
    val head = s.sql("CALL graft_cat368.system.fast_forward('db.wap_t', 'exp')")
      .head.getLong(0)
    require(head == 3, s"q368: ff must land both branch commits, got head $head")
    s.sql(
      """SELECT o_orderpriority, count(*) AS n_rows, sum(cents) AS total_cents
        |FROM graft_cat368.db.wap_t
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  // q369: COMPOSITE-KEY delta mutations — the q365 path where the row
  // identifier is ('write.key'='l_orderkey,l_linenumber'), lineitem's
  // real primary key. The delta commits pair composite equality-deletes
  // (`D|l_orderkey,l_linenumber|...` manifest lines) with appended rows;
  // the merge-on-read scan probes tuple key sets; and the pins prove the
  // IDENTITY is the pair: an UPDATE of line 1 only must leave the same
  // order's other lines untouched (a first-column-only key would erase
  // them). Same zero-rewrite accounting as q365, hash-green against the
  // oracle's relational recompute.
  def sqlCompositeKeyDelta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q369", dir)
    s.conf.set("spark.sql.catalog.graft_cat369", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat369.warehouse", out)
    // the synthetic lineitem repeats (orderkey, linenumber) pairs —
    // aggregate to them so the composite key is unique BY CONSTRUCTION
    // (the delta contract is the user's uniqueness declaration)
    Tables(s, dir).lineitem
      .groupBy($"l_orderkey", $"l_linenumber".cast("long").as("l_linenumber"))
      .agg(sum($"l_quantity".cast("long")).as("qty"),
        sum(round($"l_extendedprice" * 100).cast("long")).as("cents"))
      .createOrReplaceTempView("q369_src")
    s.sql("DROP TABLE IF EXISTS graft_cat369.db.li_t")
    s.sql("""CREATE TABLE graft_cat369.db.li_t
            |(l_orderkey BIGINT, l_linenumber BIGINT, qty BIGINT, cents BIGINT)
            |TBLPROPERTIES('write.key'='l_orderkey,l_linenumber')""".stripMargin)
    s.sql("INSERT INTO graft_cat369.db.li_t " +
      "SELECT /*+ REPARTITION(8) */ * FROM q369_src")
    import graft.sources.ManifestTable
    val tblDir = s"$out/db/li_t"
    val baseFiles = ManifestTable.sqlEntriesAt(tblDir, 1)
      .filter(_.isData).map(_.path).toSet
    def deltaPin(v: Int, verb: String): Unit = {
      require(ManifestTable.currentVersion(tblDir) == v,
        s"q369: $verb must land as exactly one delta commit (v$v)")
      val es = ManifestTable.sqlEntriesAt(tblDir, v)
      require(baseFiles.subsetOf(es.filter(_.isData).map(_.path).toSet),
        s"q369: $verb rewrote base data files — the delta contract is zero rewrites")
      require(es.exists(_.deleteKey.contains("l_orderkey,l_linenumber")),
        s"q369: $verb must carry a COMPOSITE equality-delete entry")
    }
    // UPDATE line 1 of every 13th order — sibling lines must survive
    s.sql("""UPDATE graft_cat369.db.li_t SET qty = qty + 1000
            |WHERE l_orderkey % 13 = 0 AND l_linenumber = 1""".stripMargin)
    deltaPin(2, "UPDATE")
    // MERGE keyed on BOTH columns: bump cents of line 2 where present,
    // insert a synthetic line 90 for every 31st order
    s.sql("""MERGE INTO graft_cat369.db.li_t t
            |USING (SELECT l_orderkey, 2 AS l_linenumber, 0 AS qty,
            |         77 AS cents FROM q369_src WHERE l_linenumber = 2
            |         AND l_orderkey % 17 = 0
            |       UNION ALL
            |       SELECT DISTINCT l_orderkey, 90, 1, 9090 FROM q369_src
            |       WHERE l_orderkey % 31 = 0) s
            |ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
            |WHEN MATCHED THEN UPDATE SET qty = s.qty, cents = s.cents
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    deltaPin(3, "MERGE")
    s.sql("""DELETE FROM graft_cat369.db.li_t
            |WHERE l_orderkey % 19 = 0 AND l_linenumber >= 5""".stripMargin)
    deltaPin(4, "DELETE")
    require(s.sql("SELECT count(*) FROM graft_cat369.db.li_t VERSION AS OF 1")
      .head.getLong(0) == s.sql("SELECT count(*) FROM q369_src").head.getLong(0),
      "q369: time travel to the pre-mutation snapshot must be intact")
    s.sql(
      """SELECT l_linenumber, count(*) AS n_rows, sum(qty) AS total_qty,
        |  sum(cents) AS total_cents
        |FROM graft_cat369.db.li_t
        |GROUP BY l_linenumber ORDER BY l_linenumber""".stripMargin)
  }

  // q370: STORAGE-PARTITIONED JOIN — two catalog tables declared
  // PARTITIONED BY (bucket(16, custkey)) join with ZERO exchanges on
  // either side: the INSERTs clustered each table by the catalog's own
  // `bucket` function (one hash exchange at write time — the last
  // shuffle those rows ever take), every staged file carries its bucket
  // id as manifest metadata, the scans report KeyGroupedPartitioning
  // over the SAME canonical function, and Spark aligns the sides
  // partition-by-partition (spark.sql.sources.v2.bucketing). The
  // require() pins the absence of Exchange nodes in the executed plan —
  // at 100 TB this is the co-location discipline that makes repeated
  // fact-to-fact joins affordable. Result hash-checks the join against
  // the oracle's plain recompute.
  def sqlStoragePartitionedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q370", dir)
    s.conf.set("spark.sql.catalog.graft_cat370", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat370.warehouse", out)
    Tables(s, dir).orders
      .select($"o_custkey", round($"o_totalprice" * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q370_fact_src")
    Tables(s, dir).customer
      .select($"c_custkey", $"c_nationkey", $"c_mktsegment")
      .createOrReplaceTempView("q370_dim_src")
    s.sql("DROP TABLE IF EXISTS graft_cat370.db.of")
    s.sql("DROP TABLE IF EXISTS graft_cat370.db.cd")
    s.sql("""CREATE TABLE graft_cat370.db.of (o_custkey BIGINT, cents BIGINT)
            |PARTITIONED BY (bucket(16, o_custkey))""".stripMargin)
    s.sql("""CREATE TABLE graft_cat370.db.cd
            |(c_custkey BIGINT, c_nationkey BIGINT, c_mktsegment STRING)
            |PARTITIONED BY (bucket(16, c_custkey))""".stripMargin)
    s.sql("INSERT INTO graft_cat370.db.of SELECT * FROM q370_fact_src")
    s.sql("INSERT INTO graft_cat370.db.cd SELECT * FROM q370_dim_src")
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      // the join runs shuffle-free; the aggregate AFTER it may exchange
      val joined = s.sql(
        """SELECT d.c_nationkey, f.cents
          |FROM graft_cat370.db.of f
          |JOIN graft_cat370.db.cd d ON f.o_custkey = d.c_custkey""".stripMargin)
      joined.collect(): Unit
      val plan = joined.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"q370: the co-bucketed join must plan ZERO exchanges, got:\n${plan.take(1500)}")
      require(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        "q370: the probe must be a real two-sided join, not a broadcast")
      s.sql(
        """SELECT d.c_nationkey AS nation, count(*) AS n_orders,
          |  sum(f.cents) AS total_cents
          |FROM graft_cat370.db.of f
          |JOIN graft_cat370.db.cd d ON f.o_custkey = d.c_custkey
          |GROUP BY d.c_nationkey ORDER BY nation""".stripMargin)
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  // q371: HIDDEN PARTITIONING through SQL — a table committed with
  // declared transforms (bucket(8, user) major, days(ts) minor) serves
  // plain SELECTs through the catalog: the reserved `_ptn_*` columns are
  // invisible in the schema, and a WHERE on the SOURCE timestamp prunes
  // whole files via the days-transform stats WITHOUT the query naming
  // any transform (Iceberg's hidden-partitioning contract, previously a
  // library-only read via readSourceDays). The require pins the prune;
  // the week's aggregate hash-checks against the oracle recomputing the
  // same filter relationally. SQL INSERT refuses — clustering stays
  // commitPartitioned's discipline.
  def sqlHiddenPartitioning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q371", dir)
    s.conf.set("spark.sql.catalog.graft_cat371", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat371.warehouse", out)
    import graft.sources.ManifestTable
    import graft.sources.ManifestTable.{BucketTransform, DaysTransform}
    val tblDir = s"$out/db/ev_t"
    ManifestTable.commitPartitioned(
      Tables(s, dir).events
        .select($"ts", $"user_id", $"event_type",
          round($"value" * 100).cast("long").as("cents")),
      tblDir, append = false,
      Seq(BucketTransform(8, "user_id"), DaysTransform("ts")), numFiles = 24)
    val total = ManifestTable.fileCount(tblDir)
    require(total >= 12, s"q371: need a clustered multi-file layout, got $total")
    require(!s.sql("SELECT * FROM graft_cat371.db.ev_t").columns
      .exists(_.startsWith("_ptn_")),
      "q371: transform columns must be invisible through SQL")
    val q = s.sql(
      """SELECT event_type, count(*) AS n_events, sum(cents) AS total_cents
        |FROM graft_cat371.db.ev_t
        |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
    val kept = graft.sources.v2.GraftCatalog.scannedFiles(q).size
    require(kept < total,
      s"q371: the source-timestamp WHERE must prune via days(ts), got $kept/$total")
    q
  }

  // q372: the WRITE half of hidden partitioning through SQL — the full
  // CREATE / INSERT / SELECT loop with zero library imports. CREATE
  // declares PARTITIONED BY (days(ts)); each INSERT INTO requires a
  // distribution clustered on the transform (resolved through the
  // catalog's own `days` V2 function — the same FunctionCatalog path the
  // SPJ bucket takes), the writer splits per day cell and materializes
  // `_ptn_days_ts`, and the publish is the ordinary manifest CAS. The
  // pins: the two INSERTs land one-day-per-file layouts (>= 20 files for
  // a 30-day corpus), the transform column stays invisible, and the
  // week-windowed SELECT opens a strict subset of the files. At 100 TB
  // this is ingest-clusters-itself: every INSERT's files carry tight
  // single-day stats, so time-ranged queries prune from the first commit
  // with no compaction pass and no reader-side knowledge of the layout.
  def sqlPartitionedInsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q372", dir)
    s.conf.set("spark.sql.catalog.graft_cat372", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat372.warehouse", out)
    Tables(s, dir).events
      .select($"ts", $"user_id", $"event_type",
        round($"value" * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q372_src")
    s.sql("""CREATE TABLE graft_cat372.db.ev_w
            |(ts TIMESTAMP, user_id BIGINT, event_type STRING, cents BIGINT)
            |PARTITIONED BY (days(ts))""".stripMargin)
    (0 to 1).foreach { i =>
      s.sql(s"""INSERT INTO graft_cat372.db.ev_w
               |SELECT * FROM q372_src WHERE user_id % 2 = $i""".stripMargin)
    }
    import graft.sources.ManifestTable
    val tblDir = s"$out/db/ev_w"
    val total = ManifestTable.fileCount(tblDir)
    require(total >= 20,
      s"q372: clustered INSERTs must split per day cell, got $total files")
    require(!s.sql("SELECT * FROM graft_cat372.db.ev_w").columns
      .exists(_.startsWith("_ptn_")),
      "q372: transform columns must be invisible through SQL")
    val q = s.sql(
      """SELECT event_type, count(*) AS n_events, sum(cents) AS total_cents
        |FROM graft_cat372.db.ev_w
        |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
    val kept = graft.sources.v2.GraftCatalog.scannedFiles(q).size
    require(kept < total,
      s"q372: the week window must prune SQL-inserted files, got $kept/$total")
    q
  }

  // q373: MIXED delete chains through SQL — the last delete shape the
  // face refused. A keyed, custkey-clustered table takes a SQL DELETE
  // (SupportsDelta → one equality-delete commit, zero rewrites) and then
  // a library deleteWhere (position deletes pinning exact physical rows,
  // touching ONLY the files whose clustered range overlaps the
  // predicate). The snapshot now carries BOTH delete kinds, and SELECT
  // serves it merge-on-read: equality keys scope by commit sequence,
  // position ordinals bind to their named files, drop-if-either — the
  // same row set `ManifestTable.assemble` produces (require-pinned).
  // The require()s also pin the O(delta) shape: zero data files
  // rewritten by either delete, and the position delete names a strict
  // subset of the files. At 100 TB this is the operational reality of a
  // mutable lakehouse table — interleaved key-wise and predicate-wise
  // deletes accumulating between compactions — served exactly, with
  // every untouched file still on the fully-pushed vectorized path.
  def sqlMixedDeletes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q373", dir)
    s.conf.set("spark.sql.catalog.graft_cat373", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat373.warehouse", out)
    Tables(s, dir).orders
      .select($"o_orderkey", $"o_custkey", $"o_orderpriority",
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q373_src")
    s.sql("""CREATE TABLE graft_cat373.db.mx_t
            |(o_orderkey BIGINT, o_custkey BIGINT, o_orderpriority STRING,
            | cents BIGINT)
            |TBLPROPERTIES('write.key'='o_orderkey',
            |  'write.order'='o_custkey','write.order.partitions'='8')""".stripMargin)
    s.sql("INSERT INTO graft_cat373.db.mx_t SELECT * FROM q373_src")
    import graft.sources.ManifestTable
    val tblDir = s"$out/db/mx_t"
    val baseFiles = ManifestTable.sqlEntriesAt(tblDir, 1)
      .filter(_.isData).map(_.path).toSet
    require(baseFiles.size >= 4, s"q373: need a multi-file base, got ${baseFiles.size}")
    // equality leg: SQL DELETE on the keyed table → one delta commit
    s.sql("DELETE FROM graft_cat373.db.mx_t WHERE o_orderkey % 7 = 0")
    // position leg: predicate delete on the LIVE view → P| entries.
    // The cutoff is the lowest eighth of the custkey RANGE (data-derived,
    // so the face scales from sf0.001 to sf1; the oracle recomputes the
    // same floor-divided bound) — with 8 range-clustered files it can
    // only overlap the low file(s)
    val Seq(mn, mx) = s.sql("SELECT min(o_custkey), max(o_custkey) FROM q373_src")
      .head.toSeq.map(_.asInstanceOf[Long])
    val cut = mn + (mx - mn) / 8
    ManifestTable.deleteWhere(s, tblDir, $"o_custkey" < cut)
    val es = ManifestTable.sqlEntriesAt(tblDir, ManifestTable.currentVersion(tblDir))
    require(es.exists(_.deleteKey.isDefined) && es.exists(_.posDelete),
      "q373: the snapshot must carry BOTH delete kinds")
    require(es.filter(_.isData).map(_.path).toSet == baseFiles,
      "q373: both delete kinds must be O(delta) — zero data-file rewrites")
    val touched = s.read.parquet(es.filter(_.posDelete).map(_.path): _*)
      .select("file_path").distinct().count()
    require(touched > 0 && touched < baseFiles.size,
      s"q373: the clustered position delete must touch a strict subset " +
        s"of files, got $touched/${baseFiles.size}")
    // SQL merge-on-read ≡ the library assembly, row for row
    val sqlSum = s.sql("SELECT sum(cents) FROM graft_cat373.db.mx_t").head.getLong(0)
    val libSum = ManifestTable.read(s, tblDir)
      .agg(sum($"cents")).head.getLong(0)
    require(sqlSum == libSum, s"q373: SQL ($sqlSum) != library ($libSum)")
    s.sql(
      """SELECT o_orderpriority, count(*) AS n_rows, sum(cents) AS total_cents
        |FROM graft_cat373.db.mx_t
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  // q374: the md5-bucket hidden transform DECLARED IN DDL — the one
  // hidden-partitioning declaration that previously required a library
  // call (`declareTransforms`; `bucket` in PARTITIONED BY is reserved
  // for storage-partitioned joins and its `x mod n` semantics must never
  // collide with the md5 hash on one name, so the DDL spells it
  // `md5bucket(n, col)` — Spark's parser admits arbitrary transform
  // names via ApplyTransform). CREATE declares a MIXED spec
  // (md5bucket(4, event_type), days(ts)): major bucket for string point
  // lookups, minor day grain for time windows. The pins: the declared
  // spec round-trips through `partitionTransforms`, clustered INSERTs
  // split per (bucket, day) cell, a string equality prunes through the
  // driver-side md5 twin, the day window prunes FURTHER, and the final
  // aggregate hash-checks against the oracle's relational recompute. At
  // 100 TB this is the full Iceberg-style DDL story for hash layouts:
  // one CREATE statement, and every downstream INSERT and point query
  // organizes and prunes itself with zero library imports.
  def sqlMd5BucketDdl(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q374", dir)
    s.conf.set("spark.sql.catalog.graft_cat374", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat374.warehouse", out)
    Tables(s, dir).events
      .select($"ts", $"user_id", $"event_type",
        round($"value" * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q374_src")
    s.sql("""CREATE TABLE graft_cat374.db.ev_b
            |(ts TIMESTAMP, user_id BIGINT, event_type STRING, cents BIGINT)
            |PARTITIONED BY (md5bucket(4, event_type), days(ts))""".stripMargin)
    import graft.sources.ManifestTable
    import graft.sources.ManifestTable.{BucketTransform, DaysTransform}
    val tblDir = s"$out/db/ev_b"
    require(ManifestTable.partitionTransforms(tblDir) ==
      Seq(BucketTransform(4, "event_type"), DaysTransform("ts")),
      "q374: the DDL-declared spec must round-trip through the library")
    s.sql("INSERT INTO graft_cat374.db.ev_b SELECT * FROM q374_src")
    val total = ManifestTable.fileCount(tblDir)
    require(total >= 12,
      s"q374: the clustered INSERT must split per (bucket, day) cell, got $total")
    require(!s.sql("SELECT * FROM graft_cat374.db.ev_b").columns
      .exists(_.startsWith("_ptn_")),
      "q374: transform columns must be invisible through SQL")
    // string equality prunes through the md5 bucket ('purchase' hashes
    // alone into bucket 2 of 4 on this corpus' five event types)
    val qPoint = s.sql("SELECT sum(cents) FROM graft_cat374.db.ev_b " +
      "WHERE event_type = 'purchase'")
    val keptPoint = graft.sources.v2.GraftCatalog.scannedFiles(qPoint).size
    require(keptPoint < total,
      s"q374: the string lookup must prune via md5bucket, got $keptPoint/$total")
    val q = s.sql(
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
        |  sum(cents) AS total_cents
        |FROM graft_cat374.db.ev_b
        |WHERE event_type = 'purchase'
        |  AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY CAST(ts AS DATE) ORDER BY day""".stripMargin)
    val kept = graft.sources.v2.GraftCatalog.scannedFiles(q).size
    require(kept < keptPoint,
      s"q374: the day window must prune FURTHER within the bucket, " +
        s"got $kept vs $keptPoint")
    q
  }

  // q375: CTAS + SQL VIEWS through the catalog — the derived-query
  // layer with zero library imports and zero external metastore. CREATE
  // TABLE AS SELECT materializes the source as an ordinary manifest
  // table (time travel from commit 1); CREATE VIEW stores a DEFINITION
  // (the Spark 4 ViewCatalog SPI has no engine integration, so the
  // repo's extension rule supplies the DDL commands and expands view
  // reads inline — the Iceberg pattern); a second view stacks on the
  // first, and the gate query reads through BOTH, so the whole
  // expansion chain must plan correctly against the lakehouse scan. At
  // 100 TB views are the governance layer: the expansion inherits
  // every optimization of the underlying scan (manifest pruning,
  // aggregate pushdown, DPP) because the reader plans AS IF the view
  // body had been written inline — nothing materializes, nothing goes
  // stale, and a view read costs exactly its query.
  def sqlCtasViews(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q375", dir)
    s.conf.set("spark.sql.catalog.graft_cat375", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat375.warehouse", out)
    Tables(s, dir).events
      .select($"ts", $"user_id", $"event_type",
        round($"value" * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q375_src")
    // CTAS: one statement, a committed manifest table
    s.sql("CREATE TABLE graft_cat375.db.ev AS SELECT * FROM q375_src")
    require(graft.sources.ManifestTable.currentVersion(s"$out/db/ev") == 1,
      "q375: CTAS must land as an ordinary manifest commit")
    // a view over the table, and a view over THAT view
    s.sql("""CREATE VIEW graft_cat375.db.daily AS
            |SELECT CAST(ts AS DATE) AS day, event_type,
            |       count(*) AS n, sum(cents) AS total_cents
            |FROM graft_cat375.db.ev
            |GROUP BY CAST(ts AS DATE), event_type""".stripMargin)
    s.sql("""CREATE VIEW graft_cat375.db.busy_days AS
            |SELECT day, sum(n) AS n_events, sum(total_cents) AS total_cents
            |FROM graft_cat375.db.daily
            |GROUP BY day HAVING sum(n) >= 300""".stripMargin)
    val shown = s.sql("SHOW VIEWS IN graft_cat375.db").collect()
      .map(_.getString(1)).toSet
    require(shown == Set("busy_days", "daily"),
      s"q375: SHOW VIEWS must list both definitions, got $shown")
    s.sql("""SELECT day, n_events, total_cents
            |FROM graft_cat375.db.busy_days ORDER BY day""".stripMargin)
  }

  // q376: ATOMIC CTAS + RTAS (StagingTableCatalog) — the all-or-nothing
  // DDL face. CREATE TABLE AS SELECT stages the whole query's output in
  // an invisible directory and publishes it with ONE rename; REPLACE
  // TABLE AS SELECT publishes with ONE manifest CAS onto the EXISTING
  // version chain, so the pre-replace history stays time-travelable
  // (Iceberg RTAS semantics). The face pins the two halves of the
  // contract a non-staging catalog cannot give: (1) a replace whose
  // query FAILS leaves the old table bit-identical at the same version —
  // no drop-then-create window where readers see nothing or half the
  // data; (2) a successful replace is version N+1 with version N still
  // serving. At 100 TB this is the difference between "rebuild the
  // derived table nightly" being routine and being a pager rotation:
  // the rebuild can die at 99% with zero blast radius, and a reader
  // pinned to VERSION AS OF never notices the swap.
  def sqlAtomicRtas(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q376", dir)
    s.conf.set("spark.sql.catalog.graft_cat376", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat376.warehouse", out)
    Tables(s, dir).events
      .select($"ts", $"user_id", $"event_type",
        round($"value" * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q376_src")
    s.sql("CREATE TABLE graft_cat376.db.ev AS SELECT * FROM q376_src")
    val raw = s.sql("SELECT count(*) FROM graft_cat376.db.ev").head.getLong(0)
    require(graft.sources.ManifestTable.currentVersion(s"$out/db/ev") == 1,
      "q376: atomic CTAS must land as manifest v1")
    // a replace whose query fails must leave v1 untouched
    val failed = try {
      s.sql("""REPLACE TABLE graft_cat376.db.ev AS
              |SELECT *, assert_true(cents < 0) AS chk FROM q376_src""".stripMargin)
      false
    } catch { case _: Exception => true }
    require(failed, "q376: the poisoned replace must throw")
    require(graft.sources.ManifestTable.currentVersion(s"$out/db/ev") == 1,
      "q376: a failed replace must not advance the version chain")
    require(s.sql("SELECT count(*) FROM graft_cat376.db.ev").head.getLong(0) == raw,
      "q376: a failed replace must leave the old snapshot bit-identical")
    // the real replace: raw events -> the daily rollup, atomically
    s.sql("""REPLACE TABLE graft_cat376.db.ev AS
            |SELECT CAST(ts AS DATE) AS day, event_type,
            |       count(*) AS n_events, sum(cents) AS total_cents
            |FROM q376_src GROUP BY CAST(ts AS DATE), event_type""".stripMargin)
    require(graft.sources.ManifestTable.currentVersion(s"$out/db/ev") == 2,
      "q376: the replace must be v2 ON the chain, not a fresh table")
    require(s.sql("SELECT count(*) FROM graft_cat376.db.ev VERSION AS OF 1")
      .head.getLong(0) == raw,
      "q376: the pre-replace snapshot must stay time-travelable")
    s.sql("""SELECT day, event_type, n_events, total_cents
            |FROM graft_cat376.db.ev
            |ORDER BY day, event_type""".stripMargin)
  }

  // q377: ENFORCED CHECK CONSTRAINTS — the declarative data-quality gate
  // at ingest. The table declares its invariants in DDL (`CONSTRAINT ...
  // CHECK (...)`); the catalog stores them and reports them through
  // `Table.constraints()`; SPARK compiles every enforced check into the
  // write query itself (codegen'd validation, no per-row UDF), so a
  // violating row aborts the INSERT before the manifest commit point and
  // the snapshot chain only ever contains conforming data. The face pins
  // the three contract legs: a violating batch commits NOTHING (version
  // unchanged — atomicity means no partial quality), a conforming batch
  // lands, and ALTER TABLE ADD CONSTRAINT validates EXISTING rows with
  // one distributed probe before accepting the declaration. At 100 TB
  // this replaces the post-hoc "quality scan" job class entirely: the
  // scan that would find bad rows tomorrow is the same predicate that
  // rejects them today, enforced at every writer with zero reader cost.
  def sqlCheckConstraints(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q377", dir)
    s.conf.set("spark.sql.catalog.graft_cat377", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat377.warehouse", out)
    Tables(s, dir).events
      .select($"event_id", $"ts", $"user_id", $"event_type",
        round($"value" * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q377_src")
    s.sql("""CREATE TABLE graft_cat377.db.ev (
            |  event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT,
            |  event_type STRING, cents BIGINT,
            |  CONSTRAINT cents_nonneg CHECK (cents >= 0),
            |  CONSTRAINT known_type CHECK (event_type IS NOT NULL)
            |)""".stripMargin)
    // a batch carrying violations commits NOTHING (checks run inside the
    // write; the staged files never publish)
    val failed = try {
      s.sql("""INSERT INTO graft_cat377.db.ev
              |SELECT event_id, ts, user_id, event_type, cents - 1000000
              |FROM q377_src""".stripMargin)
      false
    } catch { case _: Exception => true }
    require(failed, "q377: the violating insert must throw")
    require(graft.sources.ManifestTable.currentVersion(s"$out/db/ev") == 0,
      "q377: a rejected batch must not advance the version chain")
    // the conforming batch lands
    s.sql("INSERT INTO graft_cat377.db.ev SELECT * FROM q377_src")
    require(graft.sources.ManifestTable.currentVersion(s"$out/db/ev") == 1,
      "q377: the conforming insert must commit as v1")
    // ALTER ... ADD CONSTRAINT probes existing data: an unsatisfiable
    // check refuses, a satisfiable one lands and gates future writes
    val refused = try {
      s.sql("ALTER TABLE graft_cat377.db.ev ADD CONSTRAINT too_tight " +
        "CHECK (cents >= 100000000)")
      false
    } catch { case _: Exception => true }
    require(refused, "q377: adding a violated constraint must refuse")
    s.sql("ALTER TABLE graft_cat377.db.ev ADD CONSTRAINT sane_user " +
      "CHECK (user_id >= 0)")
    s.sql("""SELECT event_type, count(*) AS n_events,
            |       sum(cents) AS total_cents, min(cents) AS min_cents
            |FROM graft_cat377.db.ev
            |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  // q378: LIVE SCHEMA + LAYOUT EVOLUTION — the DDL a table accumulates
  // over a year of production, executed in one face with zero rewrites:
  // ALTER SET TBLPROPERTIES retrofits range clustering onto an existing
  // table (the pre-declaration files stay as they are; every later
  // INSERT clusters, so stats pruning phases in with new data — the
  // Iceberg contract), DROP COLUMN is a metadata tombstone (the bytes
  // stay in old files, the schema stops admitting the name, column
  // pruning means no scan decodes them again, and re-ADDing the name
  // refuses — name-mapped resurrection is the one evolution this format
  // must forbid), ADD COLUMN back-fills NULL, and SET
  // TBLPROPERTIES('write.key') opts the table into delta row-level SQL
  // after validating the identity over existing rows. At 100 TB every
  // one of these is an O(metadata) statement where the naive engine
  // answer (rewrite the table to a new schema) is a day of cluster time.
  def sqlSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q378", dir)
    s.conf.set("spark.sql.catalog.graft_cat378", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat378.warehouse", out)
    Tables(s, dir).events
      .select($"event_id", unix_timestamp($"ts").divide(86400).cast("long").as("day"),
        $"user_id", $"event_type",
        round($"value" * 100).cast("long").as("cents"), $"props")
      .createOrReplaceTempView("q378_src")
    // era 1: plain table, shuffled multi-partition insert — unclustered
    s.sql("""CREATE TABLE graft_cat378.db.ev AS
            |SELECT * FROM (SELECT * FROM q378_src WHERE event_id % 2 = 0
            |               DISTRIBUTE BY event_id % 8)""".stripMargin)
    val tdir = s"$out/db/ev"
    val era1 = graft.sources.ManifestTable.fileCount(tdir)
    // era 2: the clustering declaration arrives POST-HOC; later inserts obey
    s.sql("ALTER TABLE graft_cat378.db.ev SET TBLPROPERTIES " +
      "('write.order'='day', 'write.order.partitions'='8')")
    s.sql("""INSERT INTO graft_cat378.db.ev
            |SELECT * FROM q378_src WHERE event_id % 2 = 1""".stripMargin)
    val total = graft.sources.ManifestTable.fileCount(tdir)
    require(total > era1, "q378: the clustered insert must add files")
    val probe = s.sql("SELECT sum(cents) FROM graft_cat378.db.ev " +
      "WHERE day >= 19725 AND day < 19729")
    probe.collect()
    val scanned = graft.sources.v2.GraftCatalog.scannedFiles(probe).length
    require(scanned < total,
      s"q378: the retrofitted clustering must prune ($scanned of $total)")
    // era 3: the scratch column retires — metadata-only, no rewrite
    val verBefore = graft.sources.ManifestTable.currentVersion(tdir)
    s.sql("ALTER TABLE graft_cat378.db.ev DROP COLUMN props")
    require(graft.sources.ManifestTable.fileCount(tdir) == total &&
      graft.sources.ManifestTable.currentVersion(tdir) == verBefore,
      "q378: DROP COLUMN must rewrite nothing and commit nothing")
    require(!s.table("graft_cat378.db.ev").columns.contains("props"),
      "q378: the dropped column must vanish from the schema")
    val resurrect = try {
      s.sql("ALTER TABLE graft_cat378.db.ev ADD COLUMNS (props STRING)"); false
    } catch { case _: Exception => true }
    require(resurrect, "q378: re-adding a dropped name must refuse")
    // era 4: the identity declaration arrives; row-level SQL goes delta
    s.sql("ALTER TABLE graft_cat378.db.ev SET TBLPROPERTIES ('write.key'='event_id')")
    val dataBefore = graft.sources.ManifestTable
      .sqlEntriesAt(tdir, verBefore).filter(_.isData).map(_.path).toSet
    s.sql("UPDATE graft_cat378.db.ev SET cents = cents + 100 " +
      "WHERE event_type = 'click'")
    val after = graft.sources.ManifestTable
      .sqlEntriesAt(tdir, graft.sources.ManifestTable.currentVersion(tdir))
    require(dataBefore.subsetOf(after.filter(_.isData).map(_.path).toSet),
      "q378: the keyed UPDATE must leave every pre-mutation file referenced")
    s.sql("""SELECT event_type, count(*) AS n_events,
            |       sum(cents) AS total_cents
            |FROM graft_cat378.db.ev
            |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  // q380: COLUMN DEFAULT declarations — the last DDL affordance a
  // warehouse user expects: `DEFAULT` in CREATE TABLE fills omitted
  // columns at INSERT (the analyzer compiles CURRENT_DEFAULT from the
  // reported schema into the write query — no engine-side row fixup),
  // and ALTER ADD COLUMN with DEFAULT back-fills EVERY pre-ALTER row at
  // scan time through EXISTS_DEFAULT metadata — zero files rewritten, the
  // same O(metadata) evolution contract as q378's tombstones. The
  // defaults live in the schema's JSON twin (`_schema.json`) because DDL
  // text cannot carry field metadata. At 100 TB "add a column with a
  // default" is the request that takes a naive engine a full-table
  // rewrite; here it is one metadata write and the old files never learn.
  def sqlColumnDefaults(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q380", dir)
    s.conf.set("spark.sql.catalog.graft_cat380", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat380.warehouse", out)
    Tables(s, dir).events
      .select($"event_id", $"event_type",
        round($"value" * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q380_src")
    s.sql("""CREATE TABLE graft_cat380.db.ev (
            |  event_id BIGINT,
            |  event_type STRING DEFAULT 'unknown',
            |  cents BIGINT DEFAULT 0
            |)""".stripMargin)
    // a partial-column INSERT: the omitted column takes its default
    s.sql("""INSERT INTO graft_cat380.db.ev (event_id, cents)
            |SELECT event_id, cents FROM q380_src WHERE event_id % 3 = 0""".stripMargin)
    s.sql("""INSERT INTO graft_cat380.db.ev
            |SELECT * FROM q380_src WHERE event_id % 3 <> 0""".stripMargin)
    // the post-hoc default column: zero rewrites, old rows read 'legacy'
    import graft.sources.ManifestTable
    val tdir = s"$out/db/ev"
    val filesBefore = ManifestTable.fileCount(tdir)
    val verBefore = ManifestTable.currentVersion(tdir)
    s.sql("ALTER TABLE graft_cat380.db.ev ADD COLUMNS (tier STRING DEFAULT 'legacy')")
    require(ManifestTable.fileCount(tdir) == filesBefore &&
      ManifestTable.currentVersion(tdir) == verBefore,
      "q380: ADD COLUMN DEFAULT must rewrite nothing and commit nothing")
    require(s.sql("SELECT count(*) FROM graft_cat380.db.ev WHERE tier IS NULL")
      .head.getLong(0) == 0,
      "q380: every pre-ALTER row must read the EXISTS_DEFAULT, not NULL")
    s.sql("""SELECT event_type, tier, count(*) AS n_events,
            |       sum(cents) AS total_cents
            |FROM graft_cat380.db.ev
            |GROUP BY event_type, tier ORDER BY event_type, tier""".stripMargin)
  }

  // q381: DYNAMIC OVERWRITE — `df.writeTo(t).overwrite(cond)`: the
  // nightly "re-ingest one day's partition" pattern as ONE atomic
  // commit. The delete side is stats-bounded (the day-clustered layout
  // means files outside the day carry forward VERBATIM — require-pinned
  // by path), the insert side is the staged DSv2 write, and there is no
  // two-commit window where readers see the day missing. At 100 TB this
  // verb is the difference between "correct the bad upstream drop" being
  // one statement and being a DELETE+INSERT choreography with a
  // reader-visible hole (or a full-table INSERT OVERWRITE). Hash-checked
  // against the oracle's relational recompute of the replacement.
  def sqlDynamicOverwrite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q381", dir)
    s.conf.set("spark.sql.catalog.graft_cat381", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat381.warehouse", out)
    Tables(s, dir).events
      .select(unix_timestamp($"ts").divide(86400).cast("long").as("day"),
        $"event_type", round($"value" * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q381_src")
    s.sql("""CREATE TABLE graft_cat381.db.ev (day BIGINT, event_type STRING,
            |  cents BIGINT)
            |TBLPROPERTIES ('write.order'='day', 'write.order.partitions'='8')
            |""".stripMargin)
    s.sql("INSERT INTO graft_cat381.db.ev SELECT * FROM q381_src")
    import graft.sources.ManifestTable
    val tdir = s"$out/db/ev"
    val v1 = ManifestTable.currentVersion(tdir)
    val untouched = ManifestTable.sqlEntriesAt(tdir, v1).filter(_.isData)
      .filter(_.stats.get("day").exists { case (mn, mx) =>
        mx < 19725 || mn > 19725 })
      .map(_.path)
    require(untouched.nonEmpty,
      "q381: need files outside the overwritten day to pin carry-forward")
    // the corrected re-ingestion of day 19725: cents revised upward by 5
    s.table("graft_cat381.db.ev").where($"day" === 19725L)
      .withColumn("cents", $"cents" + 5)
      .writeTo("graft_cat381.db.ev").overwrite($"day" === 19725L)
    require(ManifestTable.currentVersion(tdir) == v1 + 1,
      "q381: the dynamic overwrite must land as exactly one commit")
    val after = ManifestTable.sqlEntriesAt(tdir, v1 + 1)
      .filter(_.isData).map(_.path).toSet
    require(untouched.forall(after.contains),
      "q381: files outside the overwrite scope must carry forward verbatim")
    require(s.sql(s"SELECT count(*) FROM graft_cat381.db.ev VERSION AS OF $v1")
      .head.getLong(0) ==
      s.sql("SELECT count(*) FROM q381_src").head.getLong(0),
      "q381: the pre-overwrite snapshot must stay time-travelable")
    s.sql("""SELECT event_type, count(*) AS n_events, sum(cents) AS total_cents
            |FROM graft_cat381.db.ev
            |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  // q382: POST-DATA RENAME COLUMN — pure metadata over committed files
  // (the r10 handoff's last honest DDL refusal, closed). The contract: a
  // column's STORAGE identity is the name it was born with — every file,
  // past and future, carries the physical name — and one table-level
  // logical->physical map (`_schema.names`) translates at the scan and
  // write boundaries. Rows are positional, so nothing else moves: zero
  // commits, zero rewrites, time travel intact. Pinned here: (a) the
  // rename commits nothing and touches no file; (b) footer-stats pruning
  // TRANSLATES — a predicate on the renamed name still prunes through
  // physical stats (at 100 TB the rename would otherwise silently turn
  // every pruned scan into a full scan); (c) a SQL UPDATE after the
  // rename lands correctly and its replacement files carry the PHYSICAL
  // name; (d) re-adding the storage name refuses (committed files would
  // resurface its values). Hash-checked against the oracle's relational
  // recompute.
  def sqlRenameColumn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q382", dir)
    s.conf.set("spark.sql.catalog.graft_cat382", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat382.warehouse", out)
    Tables(s, dir).events
      .select(unix_timestamp($"ts").divide(86400).cast("long").as("day"),
        $"event_type", round($"value" * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q382_src")
    s.sql("""CREATE TABLE graft_cat382.db.ev (day BIGINT, event_type STRING,
            |  cents BIGINT)""".stripMargin)
    // two INSERTs over DISJOINT cents ranges: their files' footer stats
    // partition the cents number line — the substrate for pin (b)
    s.sql("INSERT INTO graft_cat382.db.ev SELECT * FROM q382_src WHERE cents < 5000")
    s.sql("INSERT INTO graft_cat382.db.ev SELECT * FROM q382_src WHERE cents >= 5000")
    import graft.sources.ManifestTable
    val tdir = s"$out/db/ev"
    val v0 = ManifestTable.currentVersion(tdir)
    val before = ManifestTable.sqlEntriesAt(tdir, v0).filter(_.isData)
      .map(_.path).toSet
    s.sql("ALTER TABLE graft_cat382.db.ev RENAME COLUMN cents TO amount_cents")
    require(ManifestTable.currentVersion(tdir) == v0,
      "q382: RENAME COLUMN must be pure metadata — no commit")
    require(ManifestTable.sqlEntriesAt(tdir, v0).filter(_.isData)
      .map(_.path).toSet == before,
      "q382: RENAME COLUMN must touch no data file")
    require(s.table("graft_cat382.db.ev").columns.toSeq ==
      Seq("day", "event_type", "amount_cents"),
      "q382: the schema must serve the renamed name only")
    // (b) stats pruning through the rename: the low-cents slice must NOT
    // open the high-cents INSERT's files
    val probe = s.table("graft_cat382.db.ev").where($"amount_cents" < 500L)
    val scanned = graft.sources.v2.GraftCatalog.scannedFiles(probe)
    require(scanned.nonEmpty && scanned.size < before.size,
      s"q382: a renamed-column predicate must still prune files " +
        s"(${scanned.size} of ${before.size})")
    require(probe.count() ==
      s.sql("SELECT count(*) FROM q382_src WHERE cents < 500").head.getLong(0),
      "q382: the renamed-column filter must return exactly the source slice")
    // (c) row-level SQL through the rename: group copy-on-write UPDATE
    s.sql("""UPDATE graft_cat382.db.ev SET amount_cents = amount_cents + 7
            |WHERE day % 7 = 0""".stripMargin)
    val vUp = ManifestTable.currentVersion(tdir)
    val fresh = ManifestTable.sqlEntriesAt(tdir, vUp).filter(_.isData)
      .map(_.path).filterNot(before.contains)
    require(fresh.nonEmpty, "q382: the UPDATE must have written files")
    val rawNames = s.read.parquet(fresh.head).schema.fieldNames.toSeq
    require(rawNames.contains("cents") && !rawNames.contains("amount_cents"),
      s"q382: post-rename files must carry the PHYSICAL name (got $rawNames)")
    // (d) the storage name stays reserved
    val refused =
      try { s.sql("ALTER TABLE graft_cat382.db.ev ADD COLUMNS (cents BIGINT)")
            false }
      catch { case _: Exception => true }
    require(refused,
      "q382: re-adding the renamed column's storage name must refuse")
    s.sql("""SELECT event_type, count(*) AS n_events,
            |  sum(amount_cents) AS total_cents
            |FROM graft_cat382.db.ev
            |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  // q383: SNAPSHOT TAGS — named, retention-pinned versions (Iceberg's
  // tag refs): `CALL graft.system.create_tag` pins the audited snapshot
  // under a name, `VERSION AS OF 'name'` resolves it from SQL, and
  // expire() keeps a tagged version's manifest AND data files alive past
  // any retention horizon until drop_tag. A tag takes no commits and
  // owns no data (one metadata line), so "pin the pre-migration snapshot
  // for the quarter" costs nothing at 100 TB — where the alternative is
  // either unbounded retention (every nightly table keeps every version)
  // or a full CTAS copy of the pinned state. Pinned here: expire
  // reclaims the untagged middle version (manifest gone, VERSION AS OF
  // refuses) while the OLDER tagged version still serves bit-exact —
  // hash-checked against the oracle's recompute of the tagged slice.
  def sqlSnapshotTags(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q383", dir)
    s.conf.set("spark.sql.catalog.graft_cat383", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat383.warehouse", out)
    Tables(s, dir).events
      .select(unix_timestamp($"ts").divide(86400).cast("long").as("day"),
        $"event_type", round($"value" * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q383_src")
    s.sql("""CREATE TABLE graft_cat383.db.ev (day BIGINT, event_type STRING,
            |  cents BIGINT)""".stripMargin)
    // v1: the snapshot worth keeping
    s.sql("INSERT INTO graft_cat383.db.ev SELECT * FROM q383_src WHERE cents < 5000")
    require(s.sql("CALL graft_cat383.system.create_tag('db.ev', 'baseline')")
      .head.getLong(0) == 1L, "q383: the tag must pin version 1")
    // v2 (will expire), v3 (head; the UPDATE replaces every v2 file, so
    // v1's files survive ONLY through the tag pin)
    s.sql("INSERT INTO graft_cat383.db.ev SELECT * FROM q383_src WHERE cents >= 5000")
    s.sql("UPDATE graft_cat383.db.ev SET cents = cents + 3 WHERE day % 5 = 0")
    val expired = s.sql("CALL graft_cat383.system.expire('db.ev', 1)").head
    require(expired.getLong(0) == 1L,
      s"q383: expire(keep=1) must reclaim exactly the untagged middle " +
        s"version, removed ${expired.getLong(0)}")
    // the untagged version is GONE; the older tagged one still serves
    val midGone =
      try { s.sql("SELECT count(*) FROM graft_cat383.db.ev VERSION AS OF 2")
              .head.getLong(0); false }
      catch { case _: Exception => true }
    require(midGone, "q383: the expired untagged version must refuse")
    require(s.sql("SELECT * FROM graft_cat383.db.ev.tags").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq == Seq(("baseline", 1)),
      "q383: the .tags metadata table must list the pin")
    s.sql("""SELECT event_type, count(*) AS n_events, sum(cents) AS total_cents
            |FROM graft_cat383.db.ev VERSION AS OF 'baseline'
            |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  // q384: PARTITION SPEC EVOLUTION — `CALL graft.system.
  // add_partition_field('db.t', 'days(ts)')` on a LIVE table with
  // committed data. Nothing about the spec is physical (no directories,
  // no file moves): new commits cluster by the added transform and
  // carry its `_ptn_days_*` footer stats; old files simply LACK the
  // stat and every prune keeps them conservatively. At 100 TB "start
  // partitioning this table by day" is one metadata line with ZERO
  // rewrite — the benefit phases in with each new commit (or all at
  // once after a compaction). Pinned: post-evolution files carry day
  // cells while pre-evolution files are untouched by path, a week
  // window prunes the scan below the full file set, and the window
  // aggregate over BOTH eras is hash-green — a wrongly-pruned old file
  // would lose rows and break the hash.
  def sqlPartitionEvolution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q384", dir)
    s.conf.set("spark.sql.catalog.graft_cat384", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat384.warehouse", out)
    Tables(s, dir).events
      .select($"ts", $"event_type", round($"value" * 100).cast("long").as("cents"),
        $"event_id")
      .createOrReplaceTempView("q384_src")
    s.sql("""CREATE TABLE graft_cat384.db.ev (ts TIMESTAMP, event_type STRING,
            |  cents BIGINT, event_id BIGINT)""".stripMargin)
    // era 1: committed BEFORE the spec exists (plain unclustered files)
    s.sql("INSERT INTO graft_cat384.db.ev SELECT * FROM q384_src WHERE event_id % 2 = 0")
    import graft.sources.ManifestTable
    val tdir = s"$out/db/ev"
    val oldFiles = ManifestTable.sqlEntriesAt(tdir,
      ManifestTable.currentVersion(tdir)).filter(_.isData).map(_.path).toSet
    require(s.sql(
      "CALL graft_cat384.system.add_partition_field('db.ev', 'days(ts)')")
      .head.getLong(0) == 1L, "q384: the evolved spec must have one transform")
    // era 2: clustered by the new spec (per-day cell files)
    s.sql("INSERT INTO graft_cat384.db.ev SELECT * FROM q384_src WHERE event_id % 2 = 1")
    val entries = ManifestTable.sqlEntriesAt(tdir,
      ManifestTable.currentVersion(tdir)).filter(_.isData)
    val tagged = entries.filter(_.stats.contains("_ptn_days_ts"))
    require(tagged.size >= 10,
      s"q384: era-2 files must carry day cells, got ${tagged.size}")
    require(oldFiles.subsetOf(entries.map(_.path).toSet),
      "q384: evolution must not touch era-1 files")
    require(oldFiles.forall(p => !tagged.exists(_.path == p)),
      "q384: era-1 files must stay untagged")
    val probe = s.table("graft_cat384.db.ev")
      .where($"ts" >= lit("2024-01-08 00:00:00").cast("timestamp") &&
        $"ts" < lit("2024-01-15 00:00:00").cast("timestamp"))
    val scanned = graft.sources.v2.GraftCatalog.scannedFiles(probe).size
    require(scanned < entries.size,
      s"q384: the week window must prune ($scanned of ${entries.size})")
    s.sql("""SELECT event_type, count(*) AS n_events, sum(cents) AS total_cents
            |FROM graft_cat384.db.ev
            |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
            |  AND ts < TIMESTAMP '2024-01-15 00:00:00'
            |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  // q385: SQL MUTATIONS OVER POSITION-DELETE CHAINS — the r11 commit
  // reconciliation as an oracle face. A library `deleteWhere` leaves
  // position deletes (merge-on-read, zero rewrites); a bounded SQL
  // UPDATE then reads the MoR view and replaces only stats-overlapping
  // files — so the deletions it materialized must LEAVE the manifest
  // with the files they masked, while deletes pinning rows in untouched
  // files survive (rewritten if their delete file spanned both). Before
  // the fix the stale P| lines double-subtracted: COUNT(*) silently
  // wrong, the table pinned on merge-on-read forever. Pinned here:
  // zero-IO countStar EXACT after every mutation, the rewrite bounded
  // (survivors > 0), surviving position deletes still applied, and SQL
  // DELETE routing to the row-level plan on a delete-carrying snapshot
  // (canDeleteWhere refuses → the group CoW serves it) — hash-green
  // against the oracle's three-stage relational recompute.
  def sqlCowUnderPosDeletes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q385", dir)
    s.conf.set("spark.sql.catalog.graft_cat385", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat385.warehouse", out)
    Tables(s, dir).orders
      .select($"o_orderkey", $"o_orderpriority",
        datediff($"o_orderdate", lit("1970-01-01").cast("date"))
          .cast("long").as("d"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q385_src")
    s.sql("DROP TABLE IF EXISTS graft_cat385.db.t")
    s.sql("""CREATE TABLE graft_cat385.db.t
            |(o_orderkey BIGINT, o_orderpriority STRING, d BIGINT, cents BIGINT)
            |TBLPROPERTIES('write.order'='d','write.order.partitions'='8')""".stripMargin)
    s.sql("INSERT INTO graft_cat385.db.t SELECT * FROM q385_src")          // v1
    import graft.sources.ManifestTable
    val tdir = s"$out/db/t"
    val total = s.sql("SELECT count(*) FROM q385_src").head.getLong(0)
    val nDel = s.sql("SELECT count(*) FROM q385_src WHERE o_orderkey % 7 = 0")
      .head.getLong(0)
    val v1Files = ManifestTable.sqlEntriesAt(tdir, 1).filter(_.isData).map(_.path)
    // v2: library position delete — zero data rewrites, spread over
    // every range file (the key is uncorrelated with the d clustering)
    ManifestTable.deleteWhere(s, tdir, expr("o_orderkey % 7 = 0"))
    require(ManifestTable.countStar(tdir).contains(total - nDel),
      "q385: position deletes must keep zero-IO COUNT(*) exact")
    // v3: bounded CoW UPDATE through SQL on the delete-carrying snapshot
    val lo = java.time.LocalDate.parse("1996-01-01").toEpochDay
    val hi = java.time.LocalDate.parse("1996-12-31").toEpochDay
    s.sql(s"""UPDATE graft_cat385.db.t SET cents = cents + 5
             |WHERE d BETWEEN $lo AND $hi""".stripMargin)
    val v3 = ManifestTable.sqlEntriesAt(tdir, 3)
    val survivors = v1Files.toSet.intersect(v3.filter(_.isData).map(_.path).toSet)
    require(survivors.nonEmpty && survivors.size < v1Files.size,
      s"q385: bounded rewrite expected — ${survivors.size} of ${v1Files.size} survive")
    require(v3.exists(_.posDelete),
      "q385: deletes pinning rows in untouched files must survive the CoW")
    require(ManifestTable.countStar(tdir).contains(total - nDel),
      "q385: COUNT(*) must stay exact after the CoW — a stale P| line " +
        "would double-subtract its rows")
    // v4: SQL DELETE on the still-delete-carrying snapshot — the
    // metadata fast path refuses (outstanding delete entries), Spark
    // falls back to the row-level plan, and the group CoW lands it
    val cut = java.time.LocalDate.parse("1998-01-01").toEpochDay
    s.sql(s"DELETE FROM graft_cat385.db.t WHERE d >= $cut")
    val nCut = s.sql(
      s"SELECT count(*) FROM q385_src WHERE o_orderkey % 7 <> 0 AND d >= $cut")
      .head.getLong(0)
    require(nCut > 0, "q385: the DELETE window must be non-empty")
    require(ManifestTable.countStar(tdir).contains(total - nDel - nCut),
      "q385: COUNT(*) must stay exact after the row-level SQL DELETE")
    s.sql("""SELECT o_orderpriority, count(*) AS n_rows, sum(cents) AS total_cents
            |FROM graft_cat385.db.t
            |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  // q395: DELETE-FILE MAINTENANCE (r12) — `CALL rewrite_deletes` merges a
  // snapshot's accumulated position-delete files into ONE with zero data
  // IO. The 100 TB problem it exists for: a steady deleteWhere cadence
  // writes one delete file per delete per scanned data file, and every
  // merge-on-read scan thereafter opens O(|delete files|) parquet footers
  // before its first data byte; folding them back to one file is pure
  // metadata-scale maintenance (position deletes carry no sequence
  // scoping, so the union is semantics-preserving — the same argument as
  // the CoW reconcile's spanning-file merge). Pinned: three delete rounds
  // leave ≥ 3 P| files, the procedure reports (before, 1), zero-IO
  // COUNT(*) stays exact across the merge, time travel to the pre-merge
  // snapshot survives, and the final aggregate is hash-green vs the
  // oracle's recompute over the surviving rows.
  def sqlRewriteDeletes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q395", dir)
    s.conf.set("spark.sql.catalog.graft_cat395", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat395.warehouse", out)
    Tables(s, dir).orders
      .select($"o_orderkey", $"o_orderpriority",
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q395_src")
    s.sql("DROP TABLE IF EXISTS graft_cat395.db.t")
    s.sql("""CREATE TABLE graft_cat395.db.t
            |(o_orderkey BIGINT, o_orderpriority STRING, cents BIGINT)""".stripMargin)
    s.sql("INSERT INTO graft_cat395.db.t SELECT * FROM q395_src")          // v1
    import graft.sources.ManifestTable
    val tdir = s"$out/db/t"
    val total = s.sql("SELECT count(*) FROM q395_src").head.getLong(0)
    val nDel = s.sql("SELECT count(*) FROM q395_src WHERE o_orderkey % 9 < 3")
      .head.getLong(0)
    // three maintenance-cadence delete rounds, each merge-on-read
    ManifestTable.deleteWhere(s, tdir, expr("o_orderkey % 9 = 0"))         // v2
    ManifestTable.deleteWhere(s, tdir, expr("o_orderkey % 9 = 1"))         // v3
    ManifestTable.deleteWhere(s, tdir, expr("o_orderkey % 9 = 2"))         // v4
    val beforeFiles =
      ManifestTable.sqlEntriesAt(tdir, 4).count(_.posDelete)
    require(beforeFiles >= 3,
      s"q395: three delete rounds must leave >= 3 delete files, got $beforeFiles")
    require(ManifestTable.countStar(tdir).contains(total - nDel),
      "q395: zero-IO COUNT(*) must be exact before the merge")
    val r = s.sql("CALL graft_cat395.system.rewrite_deletes('db.t')").head
    require(r.getLong(0) == beforeFiles.toLong && r.getLong(1) == 1L,
      s"q395: expected ($beforeFiles -> 1) delete files, got $r")
    val v5 = ManifestTable.sqlEntriesAt(tdir, 5)
    require(v5.count(_.posDelete) == 1,
      "q395: the merged snapshot must carry exactly ONE delete file")
    require(ManifestTable.countStar(tdir).contains(total - nDel),
      "q395: zero-IO COUNT(*) must stay exact across the merge")
    require(s.sql("SELECT count(*) FROM graft_cat395.db.t VERSION AS OF 4")
      .head.getLong(0) == total - nDel,
      "q395: the pre-merge snapshot must stay time-travelable")
    // the merge is dataChange=false (r13, ADVICE r12): incremental
    // consumers spanning it must neither refuse nor see phantom events —
    // the boundary contributes ZERO rows and a feed across the whole
    // history still decomposes into exactly the three deletes' rows
    require(ManifestTable.changeFeed(s, tdir, 4, 5).isEmpty,
      "q395: rewrite_deletes must be invisible to change feeds")
    require(ManifestTable.changeFeed(s, tdir, 1, 5)
      .filter($"_change_type" === "delete").count() == nDel,
      "q395: a feed spanning the merge must still carry the deletes' rows")
    s.sql("""SELECT o_orderpriority, count(*) AS n_rows, sum(cents) AS total_cents
            |FROM graft_cat395.db.t
            |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  // q387: WAP-STAGED ROW-LEVEL MUTATIONS (r11) — write-audit-publish for
  // UPDATE / MERGE / DELETE, not just appends: with
  // `spark.graft.wap.branch` set, a keyed table's row-level SQL stages
  // as O(|delta|) equality-delete commits on the audit branch (the op
  // scan reads the BRANCH head so sequential mutations compose), main
  // stays pinned for every reader until `CALL fast_forward` publishes
  // the audited lineage as pure metadata. At 100 TB this is "run the
  // nightly correction job, check the numbers, THEN let users see it" —
  // with zero data movement at publish and zero target-file rewrites at
  // staging. Pinned: main's version and content frozen across three
  // staged mutations, every pre-mutation file referenced verbatim by
  // the branch head, the audit read serving merge-on-read over the
  // staged deltas, and the post-publish aggregate hash-green against
  // the oracle's relational recompute.
  def sqlWapStagedMutations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q387", dir)
    s.conf.set("spark.sql.catalog.graft_cat387", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat387.warehouse", out)
    Tables(s, dir).orders
      .select($"o_orderkey", $"o_orderpriority",
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q387_src")
    s.sql("DROP TABLE IF EXISTS graft_cat387.db.t")
    s.sql("""CREATE TABLE graft_cat387.db.t
            |(o_orderkey BIGINT, o_orderpriority STRING, cents BIGINT)
            |TBLPROPERTIES('write.key'='o_orderkey')""".stripMargin)
    s.sql("INSERT INTO graft_cat387.db.t SELECT * FROM q387_src")      // main v1
    import graft.sources.ManifestTable
    val tdir = s"$out/db/t"
    val mainFiles = ManifestTable.sqlEntriesAt(tdir, 1).filter(_.isData).map(_.path)
    val baseSum = s.sql("SELECT sum(cents) FROM q387_src").head.getLong(0)
    s.sql("CALL graft_cat387.system.create_branch('db.t', 'stage')")
    s.conf.set("spark.graft.wap.branch", "stage")
    try {
      s.sql("""UPDATE graft_cat387.db.t SET cents = cents + 5
              |WHERE o_orderpriority = '1-URGENT'""".stripMargin)      // stage v2
      s.sql("DELETE FROM graft_cat387.db.t WHERE o_orderkey % 10 = 0") // stage v3
      require(ManifestTable.currentVersion(tdir) == 1,
        "q387: main must stay pinned while mutations stage")
      require(s.sql("SELECT sum(cents) FROM graft_cat387.db.t")
        .head.getLong(0) == baseSum,
        "q387: main's content must be frozen during staging")
      val bv = ManifestTable.branchVersion(tdir, "stage")
      require(bv == 3, s"q387: two staged mutations expected, branch head v$bv")
      val be = ManifestTable.sqlEntriesAt(tdir, bv, ManifestTable.Ref.Branch("stage"))
      require(mainFiles.toSet.subsetOf(be.filter(_.isData).map(_.path).toSet),
        "q387: staging must rewrite ZERO pre-mutation files (pure deltas)")
      require(be.exists(_.deleteKey.isDefined),
        "q387: the staged mutations must be equality-delete commits")
      // the audit leg: merge-on-read over the staged deltas
      val audited = s.read.option("branch", "stage")
        .table("graft_cat387.db.t").count()
      val expectRows = s.sql(
        "SELECT count(*) FROM q387_src WHERE o_orderkey % 10 <> 0")
        .head.getLong(0)
      require(audited == expectRows,
        s"q387: audit read must see the staged state ($audited vs $expectRows)")
    } finally s.conf.unset("spark.graft.wap.branch")
    s.sql("CALL graft_cat387.system.fast_forward('db.t', 'stage')")
    s.sql("""SELECT o_orderpriority, count(*) AS n_rows, sum(cents) AS total_cents
            |FROM graft_cat387.db.t
            |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  // q390: PHYSICAL ERASURE PROOF (right-to-be-forgotten) — the
  // compliance loop every regulated 100 TB lakehouse runs, composed
  // from verbs that all exist: SQL DELETE on a keyed table lands as an
  // O(delta) equality-delete commit — a LOGICAL erasure whose bytes
  // remain on disk (require-pinned: the victim's rows are still
  // readable in the raw files, which is exactly why "DELETE ran" is
  // not a compliance answer) — then CALL compact materializes the
  // merge-on-read state into victim-free files, CALL expire reclaims
  // the pre-erasure manifests (time travel to the victim's data must
  // die too), and CALL vacuum(0) physically deletes every unreferenced
  // file, INCLUDING the delete files that carried the victim's keys.
  // The proof leg re-reads EVERY parquet file left under the table and
  // requires zero victim rows — not "the query can't see them", but
  // "the bytes are gone". Hash-green vs the oracle's minus-victim
  // recompute.
  def sqlErasureProof(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q390", dir)
    s.conf.set("spark.sql.catalog.graft_cat390", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat390.warehouse", out)
    Tables(s, dir).orders
      .select($"o_orderkey", $"o_custkey", $"o_orderpriority",
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q390_src")
    s.sql("DROP TABLE IF EXISTS graft_cat390.db.t")
    s.sql("""CREATE TABLE graft_cat390.db.t
            |(o_orderkey BIGINT, o_custkey BIGINT, o_orderpriority STRING,
            | cents BIGINT)
            |TBLPROPERTIES('write.key'='o_orderkey')""".stripMargin)
    s.sql("INSERT INTO graft_cat390.db.t SELECT * FROM q390_src")        // v1
    val tdir = s"$out/db/t"
    val victim = s.sql("SELECT min(o_custkey) FROM q390_src").head.getLong(0)
    // the victim's key set stays DISTRIBUTED (r11 verdict: a hot data
    // subject with 10⁶ keys must not become a 10⁶-literal IN expression
    // on the driver) — the on-disk proof filters via a broadcast semi
    // join on it instead
    val victimKeyDf = s.sql(
      s"SELECT o_orderkey FROM q390_src WHERE o_custkey = $victim")
    val nVictimKeys = victimKeyDf.count()
    require(nVictimKeys > 0, "q390: the victim must own rows")
    def allParquet(): Seq[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$tdir/data"))
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    }
    def victimRowsOnDisk(): Long = {
      // every file — data AND delete files — carries o_orderkey; read
      // each against that one-column schema (missing columns are not
      // possible here, the key is the first column everywhere)
      val paths = allParquet()
      if (paths.isEmpty) 0L
      else {
        val probe = s.read.schema("o_orderkey BIGINT").parquet(paths: _*)
          .join(org.apache.spark.sql.functions.broadcast(victimKeyDf),
            Seq("o_orderkey"), "left_semi")
        require(probe.queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin"),
          "q390: the erasure proof must probe via a broadcast semi join")
        probe.count()
      }
    }
    // LOGICAL erasure: one O(delta) commit, reads hide the victim …
    s.sql(s"DELETE FROM graft_cat390.db.t WHERE o_custkey = $victim")    // v2
    require(s.sql(
      s"SELECT count(*) FROM graft_cat390.db.t WHERE o_custkey = $victim")
      .head.getLong(0) == 0L, "q390: the DELETE must hide the victim")
    // … but the BYTES are still on disk (delete files even re-listed
    // the keys) — the pin that makes the rest of the loop necessary
    require(victimRowsOnDisk() >= nVictimKeys,
      "q390: logical deletion must leave the physical bytes in place")
    s.sql("CALL graft_cat390.system.compact('db.t', 4)").collect()       // v3
    s.sql("CALL graft_cat390.system.expire('db.t', 1)").collect()
    s.sql("CALL graft_cat390.system.vacuum('db.t', 0)").collect()
    require(victimRowsOnDisk() == 0L,
      "q390: after compact+expire+vacuum the victim's bytes must be GONE " +
        "from every remaining file")
    // pre-erasure time travel died with its manifests
    val gone =
      try { s.sql("SELECT count(*) FROM graft_cat390.db.t VERSION AS OF 1")
        .collect(); false }
      catch { case _: Exception => true }
    require(gone, "q390: expired pre-erasure versions must refuse")
    s.sql("""SELECT o_orderpriority, count(*) AS n_rows, sum(cents) AS total_cents
            |FROM graft_cat390.db.t
            |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  // q363: STREAMING READ of a catalog table — `spark.readStream.table`
  // over the SAME identifier batch SQL uses: the unification Delta calls
  // "the table is the stream". Three INSERT INTO commits stream as three
  // micro-batches (version-offset admission, require-pinned), the
  // checkpointed aggregate accumulates across them, and the final state
  // must hash-equal the oracle's batch recompute over all events — a
  // dropped or duplicated commit breaks it. At 100 TB this is the
  // nightly-pipeline contract with ZERO broker infrastructure: writers
  // INSERT through the catalog, consumers tail the same table with
  // O(delta) planning per trigger, and the checkpoint survives restarts.
  def sqlStreamTable(s: SparkSession, dir: String): DataFrame =
    graft.streaming.ScratchCheckpoints.lean(s) {
    import s.implicits._
    val out = Scratch.dir("q363", dir)
    s.conf.set("spark.sql.catalog.graft_cat363", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat363.warehouse", out)
    Tables(s, dir).events
      .select($"event_id", $"event_type",
        round($"value" * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q363_src")
    s.sql("DROP TABLE IF EXISTS graft_cat363.db.events_t")
    s.sql("""CREATE TABLE graft_cat363.db.events_t
            |(event_id BIGINT, event_type STRING, cents BIGINT)""".stripMargin)
    (0 to 2).foreach { i =>
      s.sql(s"""INSERT INTO graft_cat363.db.events_t
               |SELECT * FROM q363_src WHERE event_id % 3 = $i""".stripMargin)
    }
    val nm = "q363_mem_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = s.readStream.table("graft_cat363.db.events_t")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), sum($"cents").as("total_cents"))
      .writeStream.format("memory").queryName(nm).outputMode("complete")
      .option("checkpointLocation", s"$out/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    require(batches == 3,
      s"q363: three INSERT commits must stream as three micro-batches, got $batches")
    s.table(nm).orderBy($"event_type")
  }

  // q364: BRANCH READS through the catalog reader option — the q349
  // branch surface reachable from the DataFrame reader: an experiment
  // branch forked off the SQL-managed table takes two commits, main
  // reads stay pinned to the fork content (require), and
  // `.option("branch", "exp")` serves the branch head THROUGH the same
  // catalog scan (manifest-stats pruning and aggregate pushdown
  // unchanged — a branch manifest is a full snapshot listing). After
  // fast-forward, the plain SQL read equals the former branch head and
  // the pre-fork version still time-travels — the collaboration loop
  // (fork → write full-speed → audit → publish) with every read leg in
  // the public reader API. Both stages hash-check against the oracle.
  def sqlBranchRead(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = Scratch.dir("q364", dir)
    s.conf.set("spark.sql.catalog.graft_cat364", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat364.warehouse", out)
    val rows = Tables(s, dir).orders
      .select($"o_orderkey", $"o_orderpriority",
        round($"o_totalprice" * 100).cast("long").as("cents"),
        year($"o_orderdate").as("y"))
    rows.createOrReplaceTempView("q364_src")
    s.sql("DROP TABLE IF EXISTS graft_cat364.db.br_t")
    s.sql("""CREATE TABLE graft_cat364.db.br_t
            |(o_orderkey BIGINT, o_orderpriority STRING, cents BIGINT)""".stripMargin)
    s.sql("""INSERT INTO graft_cat364.db.br_t
            |SELECT o_orderkey, o_orderpriority, cents FROM q364_src
            |WHERE y <= 1996""".stripMargin)
    import graft.sources.ManifestTable
    val tblDir = s"$out/db/br_t"
    ManifestTable.createBranch(tblDir, "exp")
    ManifestTable.commitToBranch(
      rows.filter($"y" === 1997).select($"o_orderkey", $"o_orderpriority", $"cents"),
      tblDir, "exp")
    ManifestTable.commitToBranch(
      rows.filter($"y" === 1998).select($"o_orderkey", $"o_orderpriority", $"cents"),
      tblDir, "exp")
    val mainRows = s.read.table("graft_cat364.db.br_t").count()
    val branchRows = s.read.option("branch", "exp").table("graft_cat364.db.br_t").count()
    require(ManifestTable.currentVersion(tblDir) == 1 && branchRows > mainRows,
      s"q364: branch commits must stay off main ($mainRows main, $branchRows branch)")
    def agg(stage: String, df: DataFrame) =
      df.groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_rows"), sum($"cents").as("total_cents"))
        .select(lit(stage).as("stage"), $"o_orderpriority", $"n_rows", $"total_cents")
    val faces = agg("1_main",
        s.read.table("graft_cat364.db.br_t"))
      .unionByName(agg("2_branch",
        s.read.option("branch", "exp").table("graft_cat364.db.br_t")))
    ManifestTable.fastForward(tblDir, "exp")
    require(s.sql("SELECT count(*) FROM graft_cat364.db.br_t").head.getLong(0)
        == branchRows,
      "q364: after fast-forward the plain read must equal the branch head")
    require(s.sql("SELECT count(*) FROM graft_cat364.db.br_t VERSION AS OF 1")
        .head.getLong(0) == mainRows,
      "q364: the pre-fork version must survive the fast-forward")
    faces.orderBy($"stage", $"o_orderpriority")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q399_cherry_pick" -> cherryPickFace _,
    "q400_row_provenance" -> rowProvenance _,
    "q401_zero_copy_clone" -> zeroCopyClone _,
    "q404_clone_catchup" -> cloneCatchup _,
    "q405_binpack_compact" -> binpackCompact _,
    "q433_mor_lazy_deletes" -> morLazyDeletes _,
    "q432_mv_cube" -> mvCube _,
    "q431_mv_join_back" -> mvJoinBack _,
    "q430_mv_distinct_filter" -> mvDistinctFilter _,
    "q429_mv_filtered" -> mvFiltered _,
    "q428_mv_count_avg" -> mvCountAvg _,
    "q427_stream_snowflake" -> streamSnowflakeMv _,
    "q426_mv_daily_uniques" -> mvDailyUniques _,
    "q425_mv_distinct" -> mvDistinct _,
    "q424_mv_snowflake" -> mvSnowflake _,
    "q423_mv_time_hierarchy" -> mvTimeHierarchy _,
    "q422_stream_mv" -> streamMv _,
    "q421_mv_rollup" -> mvRollup _,
    "q419_mv_minmax" -> mvMinMax _,
    "q418_mv_join_incremental" -> mvJoinIncremental _,
    "q417_mv_incremental" -> mvIncremental _,
    "q416_mv_rewrite" -> mvRewrite _,
    "q415_cdc_jdbc" -> cdcJdbc _,
    "q413_maintenance_sync" -> maintenanceSync _,
    "q412_scd2_keyed" -> scd2Keyed _,
    "q409_cdf_scd2" -> cdfScd2 _,
    "q375_sql_ctas_views" -> sqlCtasViews _,
    "q376_sql_atomic_rtas" -> sqlAtomicRtas _,
    "q377_sql_check_constraints" -> sqlCheckConstraints _,
    "q378_sql_schema_evolution" -> sqlSchemaEvolution _,
    "q379_sql_merge_matrix" -> sqlMergeMatrix _,
    "q380_sql_column_defaults" -> sqlColumnDefaults _,
    "q381_dynamic_overwrite" -> sqlDynamicOverwrite _,
    "q382_rename_column" -> sqlRenameColumn _,
    "q383_snapshot_tags" -> sqlSnapshotTags _,
    "q395_rewrite_deletes" -> sqlRewriteDeletes _,
    "q390_erasure_proof" -> sqlErasureProof _,
    "q387_wap_staged_mutations" -> sqlWapStagedMutations _,
    "q385_cow_under_pos_deletes" -> sqlCowUnderPosDeletes _,
    "q384_partition_evolution" -> sqlPartitionEvolution _,
    "q374_sql_md5bucket_ddl" -> sqlMd5BucketDdl _,
    "q371_sql_hidden_partitioning" -> sqlHiddenPartitioning _,
    "q372_sql_partitioned_insert" -> sqlPartitionedInsert _,
    "q373_sql_mixed_deletes" -> sqlMixedDeletes _,
    "q370_storage_partitioned_join" -> sqlStoragePartitionedJoin _,
    "q369_composite_key_delta" -> sqlCompositeKeyDelta _,
    "q368_sql_branch_wap" -> sqlBranchWap _,
    "q367_bounded_group_cow" -> sqlBoundedGroupCow _,
    "q366_runtime_dpp" -> sqlRuntimeDpp _,
    "q365_sql_delta_mutations" -> sqlDeltaUpdateMerge _,
    "q364_sql_branch_read" -> sqlBranchRead _,
    "q363_sql_stream_table" -> sqlStreamTable _,
    "q360_sql_update_merge" -> sqlUpdateMerge _,
    "q357_sql_delete" -> sqlDelete _,
    "q355_vacuum" -> vacuumFace _,
    "q352_update_where" -> updateWhereFace _,
    "q349_branches" -> branchesFastForward _,
    "q348_sql_catalog" -> sqlCatalog _,
    "q347_metadata_aggregates" -> metadataAggregates _,
    "q345_optimistic_writers" -> optimisticWriters _,
    "q343_merge_into" -> mergeInto _,
    "q342_hidden_partitioning" -> hiddenPartitioning _,
    "q316_position_deletes" -> positionDeletes _,
    "q315_file_skipping" -> fileSkipping _,
    "q301_incremental_read" -> incrementalRead _,
    "q299_dsv2_write" -> dsv2Write _,
    "q283_delete_vectors" -> deleteVectors _,
    "q340_fk_quarantine" -> fkQuarantineFace _,
    "q339_histogram_selectivity" -> histogramSelectivity _,
    "q338_ndv_stats" -> ndvStats _,
    "q337_zorder_compact" -> zorderCompact _,
    "q332_change_feed_cdc" -> changeFeedCdc _,
    "q331_cluster_compact" -> clusterCompact _,
    "q330_wap" -> wapFace _,
    "q329_schema_evolution_manifest" -> schemaEvolutionManifest _,
    "q326_bloom_point_skip" -> bloomPointSkip _,
    "q324_quarantine" -> quarantineFace _,
    "q323_table_checksum" -> tableChecksum _,
    "q318_restore" -> restoreRollback _,
    "q273_compact_expire" -> compactExpire _,
    "q270_time_travel" -> timeTravel _,
    "q259_incr_join_view" -> incrementalJoinView _,
    "q260_cdc_apply" -> cdcApply _,
    "q262_observe_metrics" -> observeMetrics _,
    "q179_cohort_ltv" -> cohortLtv _,
    "q180_segment_migration" -> segmentMigration _,
    "q89_upsert_merge" -> upsertMerge _,
    "q90_scd2_history" -> scd2History _,
    "q97_quality_report" -> qualityReport _
  )

  val oracles: Map[String, String] = Map(
    // the oracle recomputes the post-pick main relationally: base minus
    // the deleted keys, plus the two picked slices IN FULL — including
    // their k % 3 = 0 rows, which only survive if cherry-pick
    // re-sequenced the picked files past the delete
    "q399_cherry_pick" ->
      """WITH k AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders),
        |f AS (
        |  SELECT k, 'base' AS grp, k * 2 AS v FROM k
        |  WHERE k % 10 < 5 AND k % 3 <> 0
        |  UNION ALL SELECT k, 'a', k * 3 FROM k WHERE k % 10 = 5
        |  UNION ALL SELECT k, 'b', k * 5 FROM k WHERE k % 10 = 6)
        |SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(k) AS BIGINT) AS sum_k, CAST(sum(v) AS BIGINT) AS sum_v
        |FROM f GROUP BY grp ORDER BY grp""".stripMargin,
    // the interval algebra recomputed relationally: per-key segment
    // list from the commit formulas, lead() closes each segment, the
    // delete horizon is the final valid_to for its keys
    // q422: the oracle recomputes the final groups over all four
    // streamed batches — a lost batch, a double-folded delta, or a
    // stale serve at the last trigger moves counts/sums
    "q422_stream_mv" ->
      """WITH src AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderpriority AS pri FROM orders)
        |SELECT pri, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(k * 2) AS BIGINT) AS sum_cents,
        |  CAST(count(k * 2) AS BIGINT) AS cnt_cents
        |FROM src GROUP BY pri ORDER BY pri""".stripMargin,
    // q433: the oracle recomputes the surviving rows from the raw
    // slices — initial minus the k%3 chain-1 deletes, plus the NEGATED
    // ingest (appended after chain 1, so chain 1 never masks it; its
    // keys are negative, so chain 2's positive key set never matches),
    // minus the k%10=5 chain-2 deletes over the originals
    "q433_mor_lazy_deletes" ->
      """WITH src AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderpriority AS pri FROM orders),
        |t AS (
        |  SELECT k, pri, k * 2 AS cents FROM src
        |  WHERE k % 3 <> 0 AND k % 10 <> 5
        |  UNION ALL
        |  SELECT -k, pri, k * 2 FROM src WHERE k % 10 = 7)
        |SELECT pri, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM t GROUP BY pri ORDER BY pri""".stripMargin,
    // q432: the oracle recomputes the ROLLUP lattice from raw rows —
    // a replayed Expand that lost a set, double-counted a replica, or
    // served stale partials moves subtotal cells
    "q432_mv_cube" ->
      """WITH src AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderpriority AS pri FROM orders),
        |b AS (SELECT pri, k % 8 AS bucket, k * 2 AS cents
        |  FROM src WHERE k % 10 <> 4),
        |r AS (SELECT pri, bucket, count(*) AS nr, sum(cents) AS sc
        |  FROM b GROUP BY ROLLUP(pri, bucket))
        |SELECT coalesce(pri, 'ALL') AS pri,
        |  coalesce(CAST(bucket AS VARCHAR), 'ALL') AS bucket,
        |  CAST(nr AS BIGINT) AS n_rows,
        |  CAST(sc AS BIGINT) AS sum_cents
        |FROM r ORDER BY pri, bucket""".stripMargin,
    // q430: the oracle recomputes the pivot from raw rows — a distinct
    // set polluted by fold-away multiplicity, a FILTER guard applied to
    // the wrong band, or a leaked deleted row all move the hash
    "q430_mv_distinct_filter" ->
      """WITH src AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderpriority AS pri FROM orders),
        |b AS (SELECT pri, k % 8 AS bucket, k * 2 AS cents
        |  FROM src WHERE k % 10 <> 4)
        |SELECT pri, CAST(count(DISTINCT bucket) AS BIGINT) AS n_buckets,
        |  CAST(sum(cents) FILTER (WHERE bucket < 4) AS BIGINT) AS low_cents,
        |  CAST(sum(cents) FILTER (WHERE bucket >= 4) AS BIGINT) AS high_cents,
        |  CAST(count(*) FILTER (WHERE bucket = 0) AS BIGINT) AS n_b0
        |FROM b GROUP BY pri ORDER BY pri""".stripMargin,
    // q431: the oracle recomputes the star join from raw rows over the
    // FINAL fact (initial + ingest - purge) and the partial-coverage
    // dim — a join-back that kept an uncovered group, dropped a
    // replicated one, or served the stale fact moves the hash
    "q431_mv_join_back" ->
      """WITH src AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders),
        |f AS (SELECT k, k % 50 AS ck, k * 2 AS cents FROM src
        |  WHERE k % 10 <= 8 AND k % 10 <> 3),
        |d AS (SELECT DISTINCT k % 50 AS ck,
        |    'r' || CAST((k % 50) % 5 AS VARCHAR) AS region
        |  FROM src WHERE k % 50 < 40)
        |SELECT region, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(max(ck) AS BIGINT) AS max_ck
        |FROM f JOIN d USING (ck) GROUP BY region ORDER BY region""".stripMargin,
    // q429: the oracle recomputes the hot-window dashboard from the raw
    // rows — final base (initial + ingest − purge) filtered to the same
    // max(day) − 90 cutoff the face derived; a fold that leaked an
    // out-of-window row in (or dropped an in-window delete) moves the
    // hash
    "q429_mv_filtered" ->
      """WITH src AS (SELECT CAST(event_id AS BIGINT) AS k,
        |    CAST(ts AS DATE) AS day, event_type AS etype,
        |    CAST(event_id % 997 AS BIGINT) AS cents FROM events),
        |f AS (SELECT * FROM src WHERE k % 10 <= 8 AND k % 10 <> 4)
        |SELECT etype, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM f WHERE day >= (SELECT max(day) FROM src) - 90
        |GROUP BY etype ORDER BY etype""".stripMargin,
    // q428: the oracle recomputes count(*)/count(cents)/sum/avg per
    // priority from the raw rows after the GDPR delete — a rollup that
    // divided by count(*) instead of the non-null count, summed the
    // wrong partial, or served a stale fold moves the hash (avg is a
    // bit-exact double: exact integer sum / exact count)
    "q428_mv_count_avg" ->
      """WITH src AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderpriority AS pri FROM orders),
        |b AS (SELECT pri,
        |    CASE WHEN k % 7 = 0 THEN NULL ELSE k * 2 END AS cents
        |  FROM src WHERE k % 10 <> 4)
        |SELECT pri, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(cents) AS BIGINT) AS cnt_cents,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  avg(cents) AS avg_cents
        |FROM b GROUP BY pri ORDER BY pri""".stripMargin,
    // q427: the oracle recomputes the FINAL 3-way join over all three
    // ingest slices + both dim re-homes — a trigger that lost its dim
    // delta (or folded it twice) lands rows in the wrong region/cat
    // and moves the hash
    "q427_stream_snowflake" ->
      """WITH k AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders),
        |f AS (SELECT k, k % 40 AS pk, k * 2 AS cents FROM k),
        |d1 AS (SELECT pk,
        |    CASE WHEN pk % 4 = 0 THEN (pk + 2) % 5 ELSE pk % 5 END AS rk,
        |    'c' || CAST(pk % 3 AS VARCHAR) AS cat FROM range(40) t(pk)),
        |d2 AS (SELECT rk,
        |    CASE WHEN rk = 1 THEN 'rY' ELSE 'r' || CAST(rk AS VARCHAR) END
        |      AS reg FROM range(5) t(rk))
        |SELECT reg, cat, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM f JOIN d1 USING (pk) JOIN d2 USING (rk)
        |GROUP BY reg, cat ORDER BY reg, cat""".stripMargin,
    // q426: the oracle recomputes the EXACT week × type user counts
    // over the final base — a wrong grain merge, a lost refresh, or a
    // sketch-fold bug surfacing in the face's require-pins (estimates
    // vs from-base vs exact) aborts the face; the exact counts move
    // the hash
    "q426_mv_daily_uniques" ->
      """WITH src AS (SELECT CAST(event_id AS BIGINT) AS k,
        |    CAST(ts AS DATE) AS day, event_type AS etype,
        |    CAST(user_id AS BIGINT) AS uid FROM events),
        |f AS (SELECT * FROM src WHERE k % 10 <= 8 AND k % 10 <> 3)
        |SELECT CAST(date_trunc('week', day) AS DATE) AS wk, etype,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT uid) AS BIGINT) AS n_users
        |FROM f GROUP BY 1, 2 ORDER BY wk, etype""".stripMargin,
    // q425: the oracle recomputes the EXACT per-type user counts over
    // the final base (initial slice + insert window − GDPR purge) — a
    // lost delta, a wrong touched set, or a stale MV serving the gate's
    // count(DISTINCT) probe (which must fail closed) moves the hash
    "q425_mv_distinct" ->
      """WITH src AS (SELECT CAST(event_id AS BIGINT) AS k,
        |    event_type AS etype, CAST(user_id AS BIGINT) AS uid
        |  FROM events),
        |f AS (SELECT * FROM src WHERE k % 10 <= 8 AND k % 10 <> 3)
        |SELECT etype, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT uid) AS BIGINT) AS n_users
        |FROM f GROUP BY etype ORDER BY etype""".stripMargin,
    // q424: the oracle recomputes the FINAL 3-way snowflake join from
    // scratch — fact after reprice/erase/ingest, d1 after the pk-level
    // re-home, d2 after the region rename — so a missed migration leg,
    // a double-folded delta interaction, or a drifted counter moves
    // the hash
    "q424_mv_snowflake" ->
      """WITH k AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders),
        |f AS (
        |  SELECT k, k % 50 AS pk,
        |    CASE WHEN k % 10 = 3 THEN k * 7 ELSE k * 3 END AS cents
        |  FROM k WHERE k % 10 < 8 AND k % 10 <> 4
        |  UNION ALL SELECT k, k % 50, k * 3 FROM k WHERE k % 10 = 8),
        |d1 AS (SELECT pk,
        |    CASE WHEN pk % 5 = 0 THEN (pk + 1) % 7 ELSE pk % 7 END AS rk,
        |    'c' || CAST(pk % 4 AS VARCHAR) AS cat FROM range(50) t(pk)),
        |d2 AS (SELECT rk,
        |    CASE WHEN rk = 2 THEN 'rX' ELSE 'r' || CAST(rk AS VARCHAR) END
        |      AS region FROM range(7) t(rk))
        |SELECT region, cat, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM f JOIN d1 USING (pk) JOIN d2 USING (rk)
        |GROUP BY region, cat ORDER BY region, cat""".stripMargin,
    // q423: the oracle recomputes the month × type dashboard from the
    // raw events — a wrong grain merge (day-groups landing in the wrong
    // month) or a partial mis-fold moves the hash
    "q423_mv_time_hierarchy" ->
      """WITH src AS (SELECT CAST(ts AS DATE) AS day,
        |    event_type AS etype,
        |    CAST(event_id % 997 AS BIGINT) AS cents FROM events)
        |SELECT CAST(date_trunc('month', day) AS DATE) AS mon, etype,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM src GROUP BY 1, 2 ORDER BY mon, etype""".stripMargin,
    // q421: the oracle recomputes the COARSE rollup directly from the
    // raw rows — a wrong partial fold (summing maxes, min of sums,
    // dropped group) or a stale serve moves the hash
    "q421_mv_rollup" ->
      """WITH src AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderpriority AS pri FROM orders)
        |SELECT pri, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(k * 2) AS BIGINT) AS sum_cents,
        |  CAST(min(k * 2) AS BIGINT) AS min_cents,
        |  CAST(max(k * 2) AS BIGINT) AS max_cents
        |FROM src GROUP BY pri ORDER BY pri""".stripMargin,
    // q419: the oracle recomputes min/max/count/sum per group from the
    // FINAL base — per-group argmax deleted, fresh batch ingested — so
    // a stale extremum (the subtractive-fold bug) or a missed touched
    // group moves the hash
    "q419_mv_minmax" ->
      """WITH src AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderpriority AS pri FROM orders),
        |b AS (SELECT k, pri, k * 2 AS cents FROM src WHERE k % 10 < 8),
        |mx AS (SELECT pri, max(k) AS mk FROM b GROUP BY pri),
        |f AS (
        |  SELECT b.k, b.pri, b.cents FROM b JOIN mx ON b.pri = mx.pri
        |  WHERE b.k <> mx.mk
        |  UNION ALL SELECT k, pri, k * 2 FROM src WHERE k % 10 = 8)
        |SELECT pri, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(min(cents) AS BIGINT) AS min_cents,
        |  CAST(max(cents) AS BIGINT) AS max_cents,
        |  CAST(count(cents) AS BIGINT) AS cnt_cents
        |FROM f GROUP BY pri ORDER BY pri""".stripMargin,
    // q418: the oracle recomputes the star join's FINAL groups from
    // scratch — fact after reprice/erasure/ingest joined to the dim
    // after re-homing — so a missed migration (F₀⋈ΔD leg), a
    // double-count (ΔF⋈ΔD cancellation), or a drifted counter moves
    // the hash
    "q418_mv_join_incremental" ->
      """WITH src AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders),
        |f AS (
        |  SELECT k, k % 50 AS jk,
        |    CASE WHEN k % 7 = 0 THEN k * 5 ELSE k * 2 END AS cents
        |  FROM src WHERE k % 10 < 8 AND k % 11 <> 0
        |  UNION ALL
        |  SELECT k, k % 50, k * 2 FROM src WHERE k % 10 = 8),
        |d AS (SELECT i AS jk, CASE WHEN i % 10 = 3 THEN 'moved'
        |  WHEN i % 5 = 0 THEN 'z'
        |  ELSE 'g' || CAST(i % 5 AS VARCHAR) END AS grp
        |  FROM range(50) t(i))
        |SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM f JOIN d USING (jk) GROUP BY grp ORDER BY grp""".stripMargin,
    // q417: the oracle recomputes the FINAL groups from scratch — the
    // k%7 repricing (rows present at merge time), the k%11 erasure
    // (post-delete appends survive), the k%10=8 ingest — so a drifted
    // incremental counter or a missed feed event moves the hash
    "q417_mv_incremental" ->
      """WITH src AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderpriority AS pri FROM orders),
        |f AS (
        |  SELECT k, pri, CASE WHEN k % 7 = 0 THEN k * 5 ELSE k * 2 END AS cents
        |  FROM src WHERE k % 10 < 8 AND k % 11 <> 0
        |  UNION ALL
        |  SELECT k, pri, k * 2 FROM src WHERE k % 10 = 8)
        |SELECT pri, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(count(cents) AS BIGINT) AS cnt_cents
        |FROM f GROUP BY pri ORDER BY pri""".stripMargin,
    // q416: the oracle recomputes the aggregate over BOTH batches — a
    // stale MV serve (missing the k%10=8 batch) or a mis-projected
    // rewrite moves counts/sums
    "q416_mv_rewrite" ->
      """WITH src AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderpriority AS pri FROM orders)
        |SELECT pri, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(k * 2) AS BIGINT) AS total_cents
        |FROM src WHERE k % 10 < 9
        |GROUP BY pri ORDER BY pri""".stripMargin,
    // q415: the oracle recomputes the SERVING DATABASE's final state —
    // v1 load, the k%7 repricing (scoped to rows present at merge time),
    // the k%11 erasure (sequence-scoped: the post-delete k%10=8 append
    // survives, re-used keys included), aggregated per priority
    "q415_cdc_jdbc" ->
      """WITH src AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderpriority AS pri FROM orders),
        |f AS (
        |  SELECT k, pri, CASE WHEN k % 7 = 0 THEN k * 5 ELSE k * 2 END AS cents
        |  FROM src WHERE k % 10 < 8 AND k % 11 <> 0
        |  UNION ALL
        |  SELECT k, pri, k * 2 FROM src WHERE k % 10 = 8)
        |SELECT pri, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM f GROUP BY pri ORDER BY pri""".stripMargin,
    // q413: the oracle recomputes the REPLICA's final content — the
    // keyed merge's payloads (k%7 rows re-priced, only for rows present
    // at merge time, i.e. k%10<8), both position-delete rounds, and the
    // post-delete append surviving untouched — so a mis-replayed
    // delete, a phantom rewrite event, or a lost re-insert moves a
    // count or a sum
    "q413_maintenance_sync" ->
      """WITH src AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderpriority AS pri FROM orders),
        |f AS (
        |  SELECT k, pri, CASE WHEN k % 7 = 0 THEN k * 5 ELSE k * 2 END AS cents
        |  FROM src WHERE k % 10 < 8 AND k % 13 <> 0 AND k % 17 <> 0
        |  UNION ALL
        |  SELECT k, pri, k * 2 FROM src
        |  WHERE k % 100 IN (8, 18) AND k % 13 <> 0 AND k % 17 <> 0
        |  UNION ALL
        |  SELECT k, pri, k * 2 FROM src WHERE k % 100 = 28)
        |SELECT pri, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM f GROUP BY pri ORDER BY pri""".stripMargin,
    // q412: the same interval algebra as q409's oracle, over the split
    // open/closed state's history — update moduli differ, the delete
    // horizon closes at v4, the v5 RE-INSERT opens a second interval
    // for k%18=0 keys (reopen-after-close, the drifted-open-set killer),
    // and v6 narrowly touches [100, 200) — the range the face's
    // clustered open table must file-skip to (r14; a deleted-at-4 key
    // in range re-inserts at 6, which the delete-horizon CASE leaves
    // open-ended correctly)
    "q412_scd2_keyed" ->
      """WITH k AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer),
        |seg AS (
        |  SELECT k, 1 AS vf, k * 2 AS v FROM k
        |  UNION ALL SELECT k, 2, k * 3 FROM k WHERE k % 4 = 0
        |  UNION ALL SELECT k, 3, k * 7 FROM k WHERE k % 6 = 0
        |  UNION ALL SELECT k, 5, k * 13 FROM k WHERE k % 18 = 0
        |  UNION ALL SELECT k, 6, k * 17 FROM k WHERE k >= 100 AND k < 200),
        |iv AS (SELECT k, v, vf,
        |    lead(vf) OVER (PARTITION BY k ORDER BY vf) AS vt FROM seg)
        |SELECT k, v, CAST(vf AS BIGINT) AS valid_from,
        |  CAST(CASE WHEN k % 9 = 0 AND vf < 4 AND (vt IS NULL OR vt > 4) THEN 4
        |            ELSE vt END AS BIGINT) AS valid_to
        |FROM iv ORDER BY k, valid_from""".stripMargin,
    "q409_cdf_scd2" ->
      """WITH k AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer),
        |seg AS (
        |  SELECT k, 1 AS vf, k * 2 AS v FROM k
        |  UNION ALL SELECT k, 2, k * 3 FROM k WHERE k % 5 = 0
        |  UNION ALL SELECT k, 3, k * 7 FROM k WHERE k % 3 = 0),
        |iv AS (SELECT k, v, vf,
        |    lead(vf) OVER (PARTITION BY k ORDER BY vf) AS vt FROM seg)
        |SELECT k, v, CAST(vf AS BIGINT) AS valid_from,
        |  CAST(CASE WHEN vt IS NOT NULL THEN vt
        |            WHEN k % 11 = 0 THEN 4 END AS BIGINT) AS valid_to
        |FROM iv ORDER BY k, valid_from""".stripMargin,
    // content identity across the binpack: the oracle recomputes the
    // (big ∪ six tiny slices) union — any row lost/duplicated by the
    // merge moves a count or sum
    // final content after BOTH binpack rounds: the original buckets plus
    // the round-2 appends (48, 58), minus the equality delete (18) and
    // the position delete (48) — the delete-tolerant merge must
    // materialize exactly this
    "q405_binpack_compact" ->
      """WITH src AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderpriority AS pri FROM orders)
        |SELECT pri, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM src
        |WHERE k % 10 < 8 OR k % 100 IN (8, 9, 19, 28, 38, 58)
        |GROUP BY pri ORDER BY pri""".stripMargin,
    // the oracle replays the source's history relationally: appended
    // buckets minus the k%4 delete, plus the k%8 re-insert with the NEW
    // payload — a mis-ordered clone apply moves n_rows or sum_cents
    "q404_clone_catchup" ->
      """WITH k AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders),
        |f AS (
        |  SELECT k, k * 2 AS cents FROM k WHERE k % 10 < 8 AND k % 4 <> 0
        |  UNION ALL SELECT k, k * 9 FROM k WHERE k % 8 = 0)
        |SELECT CAST(k % 10 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM f GROUP BY 1 ORDER BY bucket""".stripMargin,
    // the oracle recomputes the clone's final content: the cloned
    // snapshot (two year slices minus both delete rounds) plus the
    // clone's own append — source-side appends/compaction/vacuum must
    // leave all of it untouched or counts/sums move
    "q401_zero_copy_clone" ->
      """WITH src AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    year(o_orderdate) AS y FROM orders),
        |f AS (
        |  SELECT k, 'v1' AS grp FROM src
        |  WHERE y <= 1996 AND k % 5 <> 0 AND k % 11 <> 0
        |  UNION ALL SELECT k, 'v2' FROM src
        |  WHERE y = 1997 AND k % 5 <> 0 AND k % 11 <> 0
        |  UNION ALL SELECT k, 'clone_add' FROM src WHERE y = 1998)
        |SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(k) AS BIGINT) AS sum_k
        |FROM f GROUP BY grp ORDER BY grp""".stripMargin,
    // the oracle re-derives each surviving row's ingest commit from the
    // year slicing the face committed by
    "q400_row_provenance" ->
      """WITH src AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CASE WHEN year(o_orderdate) <= 1996 THEN 1
        |         WHEN year(o_orderdate) = 1997 THEN 2 ELSE 3 END AS cv
        |  FROM orders
        |  WHERE o_orderkey % 7 <> 0 AND year(o_orderdate) <= 1998)
        |SELECT CAST(cv AS BIGINT) AS commit_version,
        |  CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(k) AS BIGINT) AS sum_k
        |FROM src GROUP BY cv ORDER BY cv""".stripMargin,
    "q364_sql_branch_read" ->
      """WITH src AS (SELECT o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    year(o_orderdate) AS y FROM orders)
        |SELECT '1_main' AS stage, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM src WHERE y <= 1996 GROUP BY 2
        |UNION ALL
        |SELECT '2_branch', o_orderpriority, CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT)
        |FROM src WHERE y <= 1998 GROUP BY 2
        |ORDER BY stage, o_orderpriority""".stripMargin,
    "q395_rewrite_deletes" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders WHERE o_orderkey % 9 >= 3
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q390_erasure_proof" ->
      """WITH src AS (SELECT o_orderkey, o_custkey, o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |v AS (SELECT min(o_custkey) AS victim FROM src),
        |kept AS (SELECT s.* FROM src s, v WHERE s.o_custkey <> v.victim)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM kept GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q387_wap_staged_mutations" ->
      """WITH src AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |upd AS (SELECT o_orderkey, o_orderpriority,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN cents + 5
        |         ELSE cents END AS cents FROM src),
        |kept AS (SELECT * FROM upd WHERE o_orderkey % 10 <> 0)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM kept GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q385_cow_under_pos_deletes" ->
      """WITH src AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS BIGINT) AS d,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |live AS (SELECT * FROM src WHERE o_orderkey % 7 <> 0),
        |upd AS (SELECT o_orderkey, o_orderpriority, d,
        |    CASE WHEN d BETWEEN datediff('day', DATE '1970-01-01', DATE '1996-01-01')
        |                    AND datediff('day', DATE '1970-01-01', DATE '1996-12-31')
        |         THEN cents + 5 ELSE cents END AS cents FROM live),
        |kept AS (SELECT * FROM upd
        |  WHERE d < datediff('day', DATE '1970-01-01', DATE '1998-01-01'))
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM kept GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q384_partition_evolution" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q363_sql_stream_table" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q371_sql_hidden_partitioning" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q372_sql_partitioned_insert" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q375_sql_ctas_views" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |           AS total_cents
        |  FROM events GROUP BY 1, 2)
        |SELECT day, CAST(sum(n) AS BIGINT) AS n_events,
        |  CAST(sum(total_cents) AS BIGINT) AS total_cents
        |FROM daily GROUP BY day HAVING sum(n) >= 300
        |ORDER BY day""".stripMargin,
    "q376_sql_atomic_rtas" ->
      """SELECT CAST(ts AS DATE) AS day, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM events GROUP BY 1, 2
        |ORDER BY day, event_type""".stripMargin,
    "q377_sql_check_constraints" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
        |  CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS min_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q378_sql_schema_evolution" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)
        |    + CASE WHEN event_type = 'click' THEN 100 ELSE 0 END)
        |    AS BIGINT) AS total_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q379_sql_merge_matrix" ->
      """WITH t AS (SELECT o_orderkey AS k,
        |             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderkey % 4 <> 3),
        |s AS (SELECT o_orderkey AS k,
        |        CAST(round(o_totalprice * 100) AS BIGINT) + 7 AS cents
        |      FROM orders WHERE o_orderkey % 2 = 0),
        |upd AS (
        |  SELECT t.k,
        |    CASE WHEN s.k IS NOT NULL THEN
        |           CASE WHEN s.cents % 5 = 0 THEN s.cents
        |                WHEN s.cents % 5 = 1 THEN NULL
        |                ELSE t.cents END
        |         ELSE CASE WHEN t.cents % 7 = 0 THEN NULL
        |              ELSE t.cents + 1 END
        |    END AS cents
        |  FROM t LEFT JOIN s ON t.k = s.k),
        |ins AS (SELECT s.k, s.cents FROM s LEFT JOIN t ON s.k = t.k
        |        WHERE t.k IS NULL),
        |final AS (SELECT k, cents FROM upd WHERE cents IS NOT NULL
        |          UNION ALL SELECT k, cents FROM ins)
        |SELECT k % 10 AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM final GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q380_sql_column_defaults" ->
      """SELECT CASE WHEN event_id % 3 = 0 THEN 'unknown' ELSE event_type END
        |         AS event_type,
        |       'legacy' AS tier, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |         AS total_cents
        |FROM events GROUP BY 1, 2 ORDER BY event_type, tier""".stripMargin,
    "q381_dynamic_overwrite" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)
        |    + CASE WHEN CAST(epoch(ts) AS BIGINT) // 86400 = 19725
        |           THEN 5 ELSE 0 END) AS BIGINT) AS total_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q382_rename_column" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)
        |    + CASE WHEN (CAST(epoch(ts) AS BIGINT) // 86400) % 7 = 0
        |           THEN 7 ELSE 0 END) AS BIGINT) AS total_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q383_snapshot_tags" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM events
        |WHERE CAST(round(value * 100) AS BIGINT) < 5000
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q374_sql_md5bucket_ddl" ->
      """SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM events
        |WHERE event_type = 'purchase'
        |  AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY CAST(ts AS DATE) ORDER BY day""".stripMargin,
    "q373_sql_mixed_deletes" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders
        |WHERE o_orderkey % 7 <> 0
        |  AND o_custkey >= (SELECT min(o_custkey) +
        |    CAST(floor((max(o_custkey) - min(o_custkey)) / 8.0) AS BIGINT)
        |    FROM orders)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q370_storage_partitioned_join" ->
      """SELECT d.c_nationkey AS nation,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders f JOIN customer d ON f.o_custkey = d.c_custkey
        |GROUP BY d.c_nationkey ORDER BY nation""".stripMargin,
    "q369_composite_key_delta" ->
      """WITH src AS (SELECT l_orderkey,
        |    CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM lineitem GROUP BY 1, 2),
        |upd AS (SELECT l_orderkey, l_linenumber,
        |    CASE WHEN l_orderkey % 13 = 0 AND l_linenumber = 1
        |         THEN qty + 1000 ELSE qty END AS qty, cents FROM src),
        |ms AS (SELECT l_orderkey, CAST(2 AS BIGINT) AS l_linenumber,
        |    CAST(0 AS BIGINT) AS qty, CAST(77 AS BIGINT) AS cents
        |  FROM src WHERE l_linenumber = 2 AND l_orderkey % 17 = 0
        |  UNION ALL
        |  SELECT DISTINCT l_orderkey, CAST(90 AS BIGINT), CAST(1 AS BIGINT),
        |    CAST(9090 AS BIGINT)
        |  FROM src WHERE l_orderkey % 31 = 0),
        |merged AS (SELECT u.l_orderkey, u.l_linenumber,
        |    coalesce(m.qty, u.qty) AS qty, coalesce(m.cents, u.cents) AS cents
        |  FROM upd u LEFT JOIN ms m
        |    ON u.l_orderkey = m.l_orderkey AND u.l_linenumber = m.l_linenumber
        |  UNION ALL
        |  SELECT m.l_orderkey, m.l_linenumber, m.qty, m.cents FROM ms m
        |  WHERE NOT EXISTS (SELECT 1 FROM upd u
        |    WHERE u.l_orderkey = m.l_orderkey
        |      AND u.l_linenumber = m.l_linenumber)),
        |kept AS (SELECT * FROM merged
        |  WHERE NOT (l_orderkey % 19 = 0 AND l_linenumber >= 5))
        |SELECT l_linenumber, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(qty) AS BIGINT) AS total_qty,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM kept GROUP BY 1 ORDER BY l_linenumber""".stripMargin,
    "q368_sql_branch_wap" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q366_runtime_dpp" ->
      """WITH fact AS (SELECT
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS BIGINT) AS d,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |dim AS (SELECT DISTINCT
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS BIGINT) AS d,
        |    CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS y,
        |    CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS m FROM orders)
        |SELECT dim.y AS y, dim.m AS m,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(fact.cents) AS BIGINT) AS total_cents
        |FROM fact JOIN dim ON fact.d = dim.d
        |WHERE dim.y = 1996 AND dim.m = 3
        |GROUP BY dim.y, dim.m ORDER BY y, m""".stripMargin,
    "q367_bounded_group_cow" ->
      """WITH src AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS BIGINT) AS d,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |upd AS (SELECT o_orderkey, o_orderpriority, d,
        |    CASE WHEN d BETWEEN datediff('day', DATE '1970-01-01', DATE '1996-01-01')
        |                    AND datediff('day', DATE '1970-01-01', DATE '1996-12-31')
        |         THEN cents + 5 ELSE cents END AS cents FROM src)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM upd GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q365_sql_delta_mutations" ->
      """WITH src AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |upd AS (SELECT o_orderkey, o_orderpriority,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN cents + 1000
        |         ELSE cents END AS cents FROM src),
        |ms AS (SELECT o_orderkey, 'MERGED' AS o_orderpriority,
        |    cents + 7 AS cents FROM src WHERE o_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, 'NEW', 777 FROM src
        |  WHERE o_orderkey % 53 = 0),
        |merged AS (SELECT u.o_orderkey,
        |    coalesce(m.o_orderpriority, u.o_orderpriority) AS o_orderpriority,
        |    coalesce(m.cents, u.cents) AS cents
        |  FROM upd u LEFT JOIN ms m USING (o_orderkey)
        |  UNION ALL
        |  SELECT m.o_orderkey, m.o_orderpriority, m.cents FROM ms m
        |  WHERE m.o_orderkey NOT IN (SELECT o_orderkey FROM upd)),
        |kept AS (SELECT * FROM merged WHERE o_orderkey % 101 <> 0)
        |SELECT '1_after_update' AS stage, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM upd GROUP BY 2
        |UNION ALL
        |SELECT '2_after_merge', o_orderpriority, CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT)
        |FROM merged GROUP BY 2
        |UNION ALL
        |SELECT '3_after_delete', o_orderpriority, CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT)
        |FROM kept GROUP BY 2
        |ORDER BY stage, o_orderpriority""".stripMargin,
    "q360_sql_update_merge" ->
      """WITH src AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |upd AS (SELECT o_orderkey, o_orderpriority,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN cents + 1000
        |         ELSE cents END AS cents FROM src),
        |ms AS (SELECT o_orderkey, 'MERGED' AS o_orderpriority,
        |    cents + 7 AS cents FROM src WHERE o_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, 'NEW', 777 FROM src
        |  WHERE o_orderkey % 53 = 0),
        |merged AS (SELECT u.o_orderkey,
        |    coalesce(m.o_orderpriority, u.o_orderpriority) AS o_orderpriority,
        |    coalesce(m.cents, u.cents) AS cents
        |  FROM upd u LEFT JOIN ms m USING (o_orderkey)
        |  UNION ALL
        |  SELECT m.o_orderkey, m.o_orderpriority, m.cents FROM ms m
        |  WHERE m.o_orderkey NOT IN (SELECT o_orderkey FROM upd))
        |SELECT '1_after_update' AS stage, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM upd GROUP BY 2
        |UNION ALL
        |SELECT '2_after_merge', o_orderpriority, CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT)
        |FROM merged GROUP BY 2
        |ORDER BY stage, o_orderpriority""".stripMargin,
    "q357_sql_delete" ->
      """WITH src AS (SELECT o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS BIGINT) AS d FROM orders),
        |kept AS (SELECT * FROM src WHERE NOT (
        |  d BETWEEN datediff('day', DATE '1970-01-01', DATE '1996-01-01')
        |        AND datediff('day', DATE '1970-01-01', DATE '1996-12-31')
        |  AND o_orderpriority = '1-URGENT'))
        |SELECT '1_before' AS stage, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM src GROUP BY 2
        |UNION ALL
        |SELECT '2_after_delete', o_orderpriority, CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT)
        |FROM kept GROUP BY 2
        |ORDER BY stage, o_orderpriority""".stripMargin,
    "q355_vacuum" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q352_update_where" ->
      """WITH src AS (SELECT o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS BIGINT) AS d FROM orders),
        |upd AS (SELECT CASE WHEN d BETWEEN
        |      datediff('day', DATE '1970-01-01', DATE '1996-01-01')
        |      AND datediff('day', DATE '1970-01-01', DATE '1996-12-31')
        |      AND o_orderpriority = '1-URGENT'
        |    THEN '1-URGENT-REPRICED' ELSE o_orderpriority END AS o_orderpriority,
        |  CASE WHEN d BETWEEN
        |      datediff('day', DATE '1970-01-01', DATE '1996-01-01')
        |      AND datediff('day', DATE '1970-01-01', DATE '1996-12-31')
        |      AND o_orderpriority = '1-URGENT'
        |    THEN cents + 1000 ELSE cents END AS cents FROM src)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM upd GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q349_branches" ->
      """WITH src AS (SELECT o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    year(o_orderdate) AS y FROM orders),
        |main AS (SELECT * FROM src WHERE y <= 1996),
        |branch AS (SELECT * FROM src WHERE y <= 1998)
        |SELECT '1_main_before' AS stage, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM main GROUP BY 2
        |UNION ALL
        |SELECT '2_branch_head', o_orderpriority, CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM branch GROUP BY 2
        |UNION ALL
        |SELECT '3_main_after_ff', o_orderpriority, CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM branch GROUP BY 2
        |ORDER BY stage, o_orderpriority""".stripMargin,
    "q348_sql_catalog" ->
      """WITH src AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS BIGINT) AS d,
        |    year(o_orderdate) AS y FROM orders),
        |y3 AS (SELECT * FROM src WHERE y BETWEEN 1995 AND 1997)
        |SELECT '1_first_year' AS stage, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM src WHERE y = 1995 GROUP BY 2
        |UNION ALL
        |SELECT '2_three_years', o_orderpriority, CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT)
        |FROM y3 GROUP BY 2
        |UNION ALL
        |SELECT '3_pruned_1996', o_orderpriority, CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT)
        |FROM y3 WHERE d BETWEEN datediff('day', DATE '1970-01-01', DATE '1996-01-01')
        |  AND datediff('day', DATE '1970-01-01', DATE '1996-12-31')
        |GROUP BY 2
        |UNION ALL
        |SELECT '4_overwritten', o_orderpriority, CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT)
        |FROM src WHERE y = 1997 AND o_orderkey % 2 = 0 GROUP BY 2
        |ORDER BY stage, o_orderpriority""".stripMargin,
    "q347_metadata_aggregates" ->
      """WITH base AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS BIGINT) AS d FROM orders),
        |kept AS (SELECT * FROM base WHERE cents % 100 >= 10)
        |SELECT '1_append_only' AS stage, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(cents) AS BIGINT) AS min_cents,
        |  CAST(max(cents) AS BIGINT) AS max_cents,
        |  CAST(min(d) AS BIGINT) AS min_day, CAST(max(d) AS BIGINT) AS max_day
        |FROM base
        |UNION ALL
        |SELECT '3_compacted', CAST(count(*) AS BIGINT),
        |  CAST(min(cents) AS BIGINT), CAST(max(cents) AS BIGINT),
        |  CAST(min(d) AS BIGINT), CAST(max(d) AS BIGINT)
        |FROM kept
        |ORDER BY stage""".stripMargin,
    "q345_optimistic_writers" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q343_merge_into" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderpriority AS p,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |upd AS (SELECT k, 'MERGED' AS p, cents + 1000 AS cents FROM base
        |    WHERE k % 97 = 0
        |  UNION ALL
        |  SELECT k + 10000000, 'NEW', 777 FROM base WHERE k % 53 = 0),
        |merged AS (SELECT * FROM base
        |    WHERE k NOT IN (SELECT k FROM upd)
        |  UNION ALL SELECT * FROM upd)
        |SELECT '1_before' AS stage, p AS o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM base GROUP BY 2
        |UNION ALL
        |SELECT '2_merged', p, CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM merged GROUP BY 2
        |ORDER BY stage, o_orderpriority""".stripMargin,
    "q342_hidden_partitioning" ->
      """SELECT 'range' AS face, o_orderpriority AS key,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |GROUP BY 2
        |UNION ALL
        |SELECT 'point' AS face, CAST(o_orderkey AS VARCHAR) AS key,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders
        |WHERE o_orderkey IN (7, 555, 1400, 9999)
        |GROUP BY 2
        |ORDER BY face, key""".stripMargin,
    "q315_file_skipping" -> {
      val lo = java.time.LocalDate.of(1995, 7, 1).toEpochDay
      val hi = java.time.LocalDate.of(1996, 6, 30).toEpochDay
      s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         |    AS total_cents
         |FROM orders
         |WHERE datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
         |  BETWEEN $lo AND $hi
         |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin
    },
    "q316_position_deletes" ->
      """WITH base AS (SELECT o_orderkey, o_orderpriority, o_orderdate,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |v1 AS (SELECT * FROM base
        |  WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
        |v2 AS (SELECT * FROM v1
        |  WHERE NOT (o_orderpriority = '1-URGENT' AND cents % 100 < 50)),
        |v3 AS (SELECT * FROM v2 UNION ALL SELECT * FROM base
        |  WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
        |SELECT '1_before' AS stage, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM v1 GROUP BY 2
        |UNION ALL SELECT '2_pos_deleted', o_orderpriority,
        |  CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
        |FROM v2 GROUP BY 2
        |UNION ALL SELECT '3_appended_after', o_orderpriority,
        |  CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
        |FROM v3 GROUP BY 2
        |ORDER BY stage, o_orderpriority""".stripMargin,
    "q301_incremental_read" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q299_dsv2_write" ->
      """WITH base AS (SELECT o_orderpriority, o_orderstatus, o_orderdate,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |s1 AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(cents) AS BIGINT) AS total_cents
        |  FROM base WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY 1),
        |s2 AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(cents) AS BIGINT) AS total_cents
        |  FROM base GROUP BY 1),
        |s3 AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(cents) AS BIGINT) AS total_cents
        |  FROM base WHERE o_orderstatus = 'O' GROUP BY 1)
        |SELECT '1_first_append' AS stage, * FROM s1
        |UNION ALL SELECT '2_appended', * FROM s2
        |UNION ALL SELECT '3_overwritten', * FROM s3
        |ORDER BY stage, o_orderpriority""".stripMargin,
    "q283_delete_vectors" ->
      """WITH base AS (SELECT o_orderkey, o_orderpriority, o_orderdate,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |v1 AS (SELECT * FROM base
        |  WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
        |merged AS (SELECT * FROM v1 WHERE o_orderpriority <> '3-MEDIUM'
        |  UNION ALL SELECT * FROM base
        |  WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'),
        |m AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(cents) AS BIGINT) AS total_cents
        |  FROM merged GROUP BY 1)
        |SELECT '1_before_delete' AS stage, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM v1 GROUP BY 2
        |UNION ALL SELECT '2_merge_on_read', * FROM m
        |UNION ALL SELECT '3_compacted', * FROM m
        |ORDER BY stage, o_orderpriority""".stripMargin,
    "q340_fk_quarantine" ->
      """SELECT CASE WHEN o_orderkey % 51 = 0 THEN 'orphan' ELSE 'clean' END
        |    AS disposition,
        |  o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q339_histogram_selectivity" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents, TRUE AS bounds_hold
        |FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |WHERE cents >= 5000000 AND cents < 15000000""".stripMargin,
    "q338_ndv_stats" ->
      """SELECT 'o_custkey' AS col,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_ndv,
        |  TRUE AS within_5pct FROM orders
        |UNION ALL
        |SELECT 'o_orderkey',
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT), TRUE FROM orders
        |ORDER BY col""".stripMargin,
    "q337_zorder_compact" ->
      """WITH p AS (SELECT greatest(count(*) // 10, 10) AS hi FROM part)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM lineitem, p
        |WHERE CAST(l_shipdate AS DATE) - DATE '1970-01-01' BETWEEN 9496 AND 9586
        |  AND l_partkey < p.hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q331_cluster_compact" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) - DATE '1970-01-01' BETWEEN 9496 AND 9861
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q332_change_feed_cdc" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus, o_orderdate,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT 'insert' AS _change_type, o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM o WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1, 2
        |UNION ALL
        |SELECT 'delete', o_orderstatus,
        |  CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
        |FROM o WHERE o_orderkey % 53 = 0 OR o_orderkey % 41 = 0
        |  OR (o_orderkey % 67 = 0)
        |GROUP BY 1, 2
        |ORDER BY _change_type, o_orderstatus""".stripMargin,
    "q330_wap" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q329_schema_evolution_manifest" ->
      """SELECT CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |    THEN '<pre-evolution>' ELSE o_orderpriority END AS prio,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q326_bloom_point_skip" ->
      """WITH k AS (SELECT unnest([7, 137, 555, 1001, 1400]) AS o_orderkey)
        |SELECT CAST(k.o_orderkey AS BIGINT) AS o_orderkey,
        |  CAST(count(o.o_orderkey) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM k LEFT JOIN orders o USING (o_orderkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q324_quarantine" ->
      """WITH m AS (SELECT o_totalprice, list_filter([
        |    CASE WHEN o_custkey IS NULL THEN 'custkey_null' END,
        |    CASE WHEN o_totalprice IS NOT NULL
        |      AND (o_totalprice < 0 OR o_totalprice > 300000)
        |      THEN 'price_range' END,
        |    CASE WHEN NOT coalesce(o_orderstatus IN ('O', 'F'), FALSE)
        |      THEN 'status_domain' END
        |  ], x -> x IS NOT NULL) AS rs FROM orders)
        |SELECT CASE WHEN len(rs) = 0 THEN 'clean'
        |    ELSE array_to_string(rs, ',') END AS reasons,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "q323_table_checksum" ->
      """WITH c AS (SELECT l_returnflag,
        |    ('0x' || substr(md5(
        |      CAST(l_orderkey AS VARCHAR) || chr(31) ||
        |      CAST(l_partkey AS VARCHAR) || chr(31) ||
        |      CAST(l_suppkey AS VARCHAR) || chr(31) ||
        |      CAST(l_linenumber AS VARCHAR) || chr(31) ||
        |      CAST(CAST(round(l_quantity * 100) AS BIGINT) AS VARCHAR) || chr(31) ||
        |      CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR) || chr(31) ||
        |      CAST(CAST(round(l_discount * 100) AS BIGINT) AS VARCHAR) || chr(31) ||
        |      CAST(CAST(round(l_tax * 100) AS BIGINT) AS VARCHAR) || chr(31) ||
        |      l_returnflag || chr(31) || l_linestatus || chr(31) ||
        |      strftime(l_shipdate, '%Y-%m-%d')), 1, 10))::BIGINT AS hv
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(CAST(sum(hv) AS HUGEINT) AS VARCHAR) AS checksum
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q318_restore" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus, o_orderdate,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM o
        |WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |UNION ALL
        |SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
        |FROM o
        |UNION ALL
        |SELECT 3, CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
        |FROM o WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT 4, CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
        |FROM o
        |ORDER BY version""".stripMargin,
    "q273_compact_expire" ->
      """WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM o)
        |SELECT '1_append_chain' AS stage, n_rows, total_cents,
        |  CAST(24 AS INT) AS n_files FROM a
        |UNION ALL SELECT '2_compacted', n_rows, total_cents, 2 FROM a
        |UNION ALL SELECT '3_after_expiry', n_rows, total_cents, 2 FROM a
        |ORDER BY stage""".stripMargin,
    "q270_time_travel" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus, o_orderdate,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS total_cents FROM o
        |WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |UNION ALL
        |SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
        |FROM o
        |UNION ALL
        |SELECT 3, CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
        |FROM o WHERE o_orderstatus = 'F'
        |ORDER BY version""".stripMargin,
    "q259_incr_join_view" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q260_cdc_apply" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'),
        |delta AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'),
        |log AS (
        |  SELECT k, 'U' AS op, 1 AS seq, st, cents + 10000 AS cents FROM delta
        |  UNION ALL SELECT k, 'U', 2, st, cents + 20000 FROM delta
        |    WHERE k % 3 = 0
        |  UNION ALL SELECT k, 'D', 3, NULL, NULL FROM delta WHERE k % 10 < 2
        |  UNION ALL SELECT k, 'D', 1, NULL, NULL FROM base WHERE k % 7 = 0),
        |fin AS (SELECT k, op, st, cents FROM (
        |    SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC)
        |      AS rn FROM log) WHERE rn = 1),
        |state AS (
        |  SELECT b.k, b.st, b.cents FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM fin f WHERE f.k = b.k)
        |  UNION ALL SELECT k, st, cents FROM fin WHERE op = 'U')
        |SELECT st AS o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS total_cents,
        |  CAST(count(DISTINCT k) AS BIGINT) AS n_keys
        |FROM state GROUP BY st ORDER BY st""".stripMargin,
    "q262_observe_metrics" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS price_cents,
        |  CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_discounted,
        |  (SELECT CAST(sum(ascii(l_returnflag) * n) AS BIGINT)
        |   FROM (SELECT l_returnflag, count(*) AS n FROM lineitem
        |         GROUP BY 1)) AS primary_checksum
        |FROM lineitem""".stripMargin,
    "q179_cohort_ltv" ->
      """WITH o AS (SELECT o_custkey,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INT) AS m,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS rev
        |  FROM orders),
        |c AS (SELECT o_custkey, CAST(min(m) AS INT) AS cm FROM o
        |  GROUP BY o_custkey),
        |cells AS (SELECT cm, m - cm AS k,
        |    count(DISTINCT o.o_custkey) AS act, sum(rev) AS crev
        |  FROM o JOIN c USING (o_custkey) GROUP BY 1, 2),
        |w AS (SELECT cm, k, act, crev,
        |    sum(crev) OVER (PARTITION BY cm ORDER BY k
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(crev) OVER (PARTITION BY cm) AS tot
        |  FROM cells)
        |SELECT cm, CAST(k AS INT) AS k, CAST(act AS BIGINT) AS active,
        |  CAST(crev AS DOUBLE) AS rev,
        |  round(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS cum_share
        |FROM w ORDER BY cm, k""".stripMargin,
    "q180_segment_migration" ->
      """WITH a AS (SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |      AS s96
        |  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY o_custkey),
        |b AS (SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |      AS s97
        |  FROM orders WHERE year(o_orderdate) = 1997 GROUP BY o_custkey),
        |ra AS (SELECT o_custkey, s96,
        |    ntile(4) OVER (ORDER BY s96 DESC, o_custkey) AS q96 FROM a),
        |rb AS (SELECT o_custkey, s97,
        |    ntile(4) OVER (ORDER BY s97 DESC, o_custkey) AS q97 FROM b)
        |SELECT q96, q97, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(s97 - s96) AS DOUBLE) AS spend_delta
        |FROM ra JOIN rb USING (o_custkey)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q89_upsert_merge" ->
      """WITH target AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
        |updates AS (
        |  SELECT o_orderkey, o_totalprice + 500 AS o_totalprice,
        |    'U' AS o_orderstatus, 0 AS _seq FROM orders WHERE o_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice + 1000, 'U', 1 FROM orders WHERE o_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_totalprice, 'I', 2 FROM orders WHERE o_orderkey % 997 = 0),
        |deduped AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM (
        |    SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY _seq DESC) AS rn
        |    FROM updates) WHERE rn = 1),
        |merged AS (
        |  SELECT * FROM target WHERE o_orderkey NOT IN (SELECT o_orderkey FROM deduped)
        |  UNION ALL SELECT * FROM deduped)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents,
        |  count(DISTINCT o_orderkey) AS n_keys
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q97_quality_report" ->
      """WITH t AS (SELECT count(*) AS n_rows FROM orders)
        |SELECT 'custkey_fk' AS "check",
        |  CAST((SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT) AS violations,
        |  n_rows FROM t
        |UNION ALL SELECT 'custkey_not_null',
        |  CAST((SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT), n_rows FROM t
        |UNION ALL SELECT 'orderkey_unique',
        |  CAST((SELECT count(*) - count(DISTINCT o_orderkey) FROM orders) AS BIGINT), n_rows FROM t
        |UNION ALL SELECT 'status_domain',
        |  CAST((SELECT count(*) FROM orders
        |    WHERE o_orderstatus IS NULL OR o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT), n_rows FROM t
        |UNION ALL SELECT 'totalprice_range',
        |  CAST((SELECT count(*) FROM orders
        |    WHERE o_totalprice IS NOT NULL AND (o_totalprice < 0 OR o_totalprice > 10000000)) AS BIGINT), n_rows FROM t
        |ORDER BY "check"""".stripMargin,
    "q90_scd2_history" ->
      """SELECT o_custkey, o_orderkey, o_orderdate AS valid_from,
        |  lead(o_orderdate) OVER w AS valid_to,
        |  lead(o_orderdate) OVER w IS NULL AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin
  )
}
