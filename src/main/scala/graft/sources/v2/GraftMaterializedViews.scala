package graft.sources.v2

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, AttributeSet, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, HllSketchAgg, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.sources.ManifestTable

/** MATERIALIZED VIEWS with automatic query rewrite (r13, hardened +
  * persisted r14) — the engine feature that turns the repo's
  * incremental-view faces (q100/q259) into something the USER's unchanged
  * query benefits from: register a view once, and every query whose plan
  * IS the view definition silently reads the precomputed table instead of
  * re-aggregating the base — when, and only when, the materialization is
  * FRESH.
  *
  * Contract (the honest scope production systems actually ship for
  * automatic rewrite — BigQuery/Snowflake restrict theirs similarly):
  *
  *  - **exact-match rewrite**: a query subtree rewrites iff its
  *    canonicalized ANALYZED plan equals the view definition's — same
  *    aggregate, same grouping, same base relations at the same pinned
  *    version. Containment rewrite (query ⊂ view) is out of scope; the
  *    fingerprint (below) makes a near-miss fail CLOSED (no rewrite,
  *    correct answer from base).
  *  - **version-based staleness**: registration records each dependency
  *    table's manifest version BEFORE materializing (a base commit that
  *    lands while the definition query is running leaves the recorded
  *    version behind the data's true read — the view is then STALE and
  *    the rule refuses it, never fresh-at-a-version-its-data-misses);
  *    the rule consults the CURRENT version at rewrite time (an O(1)
  *    directory listing, memoized per query) and skips the view the
  *    moment any dependency advances — a stale MV is never served, the
  *    query computes from base, and `refresh` re-materializes +
  *    re-records. This is the lakehouse advantage: versions make
  *    staleness EXACT, not clock-based.
  *  - **manifest-backed dependencies only**: a definition may read
  *    nothing but graft-catalog (manifest) tables. Any other leaf — a
  *    temp view over raw parquet, a LocalRelation, a v1 file scan —
  *    carries no pinned-version identity, so its fingerprint could not
  *    distinguish two same-schema sources over different data and its
  *    staleness could not be tracked at all. `register` REFUSES such
  *    definitions loudly.
  *  - **resolution-time substitution**: the rule runs post-hoc in the
  *    analyzer (before any filter pushdown rewrites the tree), replacing
  *    the matched subtree with a scan of the MV's manifest table behind a
  *    Project that preserves the subtree's output attribute ids — parents
  *    of the rewritten node never know. The decision is made ONCE, when
  *    the DataFrame is ANALYZED: a handle analyzed while the view was
  *    fresh and executed (or re-executed) after a later base commit still
  *    reads the substituted MV scan — the same plan-pinning semantics as
  *    `VERSION AS OF` (an analyzed graft plan pins its snapshot). Callers
  *    holding DataFrames across base commits get snapshot semantics, not
  *    read-latest; re-issue the SQL for the current answer. `hits`
  *    counts these analysis-time substitutions, not executions.
  *  - **durable registry**: views registered with a `persistDir` (the
  *    warehouse's `_mv/` sidecar — the catalog's `create_agg_mv`
  *    procedure always passes it) survive the session: each view's
  *    definition rows (name, defSql, mvDir, deps@versions, fingerprint,
  *    shape) live in per-view generation files claimed by
  *    create-no-overwrite hard links — the same CAS discipline as tags —
  *    and [[GraftCatalog.initialize]] reloads them, so a restarted
  *    session serves the same queries from the same materializations.
  *    Reloaded fingerprints are re-derived lazily (first query that
  *    finds the view fresh re-analyzes the stored definition SQL in THIS
  *    session) — the match never trusts a string another Spark version
  *    may canonicalize differently.
  *
  * At 100 TB: the MV table is O(|groups|), the rewrite decision is
  * O(candidate nodes) — subtrees are fingerprinted only when their
  * output width AND root node name match some armed view, and each
  * dependency's head version is listed once per query — and the
  * dashboard query that re-aggregated the fact table every morning
  * becomes a scan of a few thousand rows. Fingerprint includes the
  * relation's PINNED version, so `VERSION AS OF` time-travel queries
  * never false-match a current-version view definition.
  */
object GraftMaterializedViews {

  /** The incrementally-maintainable aggregate shape: group keys +
    * count(*) + per-column sums (and optionally mins/maxs) over ONE
    * base table. Sums/counts are SUBTRACTABLE (deletes fold as −1);
    * min/max are not — a delete may remove the extremum, so their
    * refresh re-aggregates the TOUCHED groups from a key-pruned base
    * scan instead (see [[refreshIncremental]]). */
  final case class AggShape(baseDir: String, groupCols: Seq[String],
                            sumCols: Seq[String],
                            minCols: Seq[String] = Nil,
                            maxCols: Seq[String] = Nil,
                            avgCols: Seq[String] = Nil,
                            distinctCols: Seq[String] = Nil,
                            where: Option[String] = None)

  /** The two-table star shape: fact ⋈ dim on one key, grouped +
    * count/sums — maintained from BOTH bases' change feeds via the
    * delta-join identity (q259 at engine level). */
  final case class JoinShape(factDir: String, dimDir: String, joinKey: String,
                             groupCols: Seq[String], sumCols: Seq[String])

  /** The k-table SNOWFLAKE shape (r15): side 0 (the fact) left-folds
    * through `sideDirs.tail` with `JOIN … USING (joinKeys(i-1))` —
    * each key resolves against the ACCUMULATED join output, so both
    * star (all keys on the fact) and snowflake (a key introduced by an
    * earlier dim) topologies express. Maintained from ALL k change
    * feeds by the telescoping identity (see
    * [[refreshIncrementalSnowflake]]). */
  final case class SnowflakeShape(sideDirs: Seq[String], joinKeys: Seq[String],
                                  groupCols: Seq[String], sumCols: Seq[String])

  /** Everything the ROLLUP containment rewrite needs, derived from the
    * view's analyzed definition at registration (and re-derived after a
    * reload): the fingerprint of the aggregate's CHILD (the base
    * relation/join subtree a coarser query must share), and the
    * mapping from base-side column names to the MV's stored columns.
    * Present only when the definition is a plain rollup-capable
    * aggregate (AttributeReference group keys; count(*)/sum/min/max
    * without DISTINCT or FILTER). */
  final case class RollupInfo(childFp: String,
                              groupMap: Map[String, String],
                              countCol: Option[String],
                              sumMap: Map[String, String],
                              minMap: Map[String, String],
                              maxMap: Map[String, String],
                              cntMap: Map[String, String] = Map.empty)

  /** Output-expression translation result for the containment rewrite
    * (private to the rule, hosted here so the case classes carry no
    * outer-instance reference): TrGroup(i) = a semantic copy of the
    * i-th grouping expression; TrDerived = a deterministic function of
    * grouping expressions (constant per query group); TrAgg = a
    * servable aggregate. TrAgg's build args: (base→MV attribute
    * remapper, stored-partial-column resolver — the resolver returns
    * the MV's OWN attribute for a stored column name, never a bare
    * col() lookup, which could collide with a same-named dim column in
    * the join-back frame). */
  private[v2] sealed trait Tr
  private[v2] final case class TrGroup(i: Int) extends Tr
  private[v2] final case class TrDerived(ex: Expression) extends Tr
  private[v2] final case class TrAgg(build: (Expression => Expression,
      String => org.apache.spark.sql.Column) => org.apache.spark.sql.Column) extends Tr

  final case class MvDef(name: String, defSql: String, mvDir: String,
                         deps: Seq[(String, Int)], fingerprint: String,
                         outputWidth: Int, aggShape: Option[AggShape] = None,
                         joinShape: Option[JoinShape] = None,
                         rootNode: String = "", persistDir: Option[String] = None,
                         fpVerified: Boolean = true,
                         rollup: Option[RollupInfo] = None,
                         snowShape: Option[SnowflakeShape] = None,
                         regKey: String = "") {
    /** Registry key: the bare name, unless this view lost a
      * cross-warehouse name collision at [[loadFrom]] — then the
      * QUALIFIED `<persistDir>::<name>` (never serialized; a session
      * artifact like the hit counters). Both collided views serve the
      * rewrite (fingerprints keep them apart); name-keyed verbs
      * (refresh/drop/hits) take either form. */
    def key: String = if (regKey.isEmpty) name else regKey
  }

  private val views = new ConcurrentHashMap[String, MvDef]()
  private val hitCounters = new ConcurrentHashMap[String, AtomicLong]()

  /** True while register/refresh analyze a definition query on this
    * thread — the rewrite rule must NOT fire there: a refresh of a
    * still-fresh view (or of one equivalent to another fresh view) would
    * otherwise materialize the MV from itself and fingerprint the
    * REWRITTEN plan, silently killing every future match. */
  private val analyzing = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }
  private[v2] def suppressed: Boolean = analyzing.get()
  private[v2] def suppressRewrite[T](f: => T): T = {
    val old = analyzing.get()
    analyzing.set(true)
    try f finally analyzing.set(old)
  }

  /** Materialize `defSql` into the manifest table at `mvDir`, record the
    * dependency versions, and arm the rewrite. `deps` = the manifest
    * directories of every base table the definition reads (the staleness
    * domain). Registration itself never rewrites: the definition is
    * analyzed under [[suppressRewrite]] and the view enters the registry
    * only after the materialization lands. Pass `persistDir` (the
    * warehouse `_mv/` sidecar) to make the registration durable across
    * sessions. */
  def register(spark: SparkSession, name: String, defSql: String,
               mvDir: String, deps: Seq[String],
               persistDir: Option[String] = None): Unit =
    install(materialize(spark, name, defSql, mvDir, deps, persistDir))

  private def materialize(spark: SparkSession, name: String, defSql: String,
                          mvDir: String, deps: Seq[String],
                          persistDir: Option[String]): MvDef = {
    require(name.nonEmpty && name.forall(c =>
        c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
      s"GraftMaterializedViews.register: illegal view name '$name' " +
        "(letters, digits, '_', '-', '.' — it names the sidecar file)")
    // dependency versions BEFORE materializing: a concurrent base commit
    // leaves `recorded < current` → the view is born stale → fail closed
    val depVers = deps.map(d => d -> ManifestTable.currentVersion(d))
    val (fp, width, root, ri) = suppressRewrite {
      val df = spark.sql(defSql)
      val analyzed = df.queryExecution.analyzed
      guardLeaves(analyzed, name)
      ManifestTable.commit(df, mvDir, append = false): Unit
      (fingerprint(analyzed), analyzed.output.length, analyzed.nodeName,
        deriveRollup(analyzed))
    }
    MvDef(name, defSql, mvDir, depVers, fp, width, rootNode = root,
      persistDir = persistDir, rollup = ri)
  }

  /** If the analyzed definition is a plain rollup-capable aggregate,
    * extract the containment-rewrite metadata; None otherwise (the view
    * still serves exact matches). Rollup-capable = every group key a
    * bare column, every aggregate count(*), count(col), sum(col),
    * min(col), max(col) or avg(col) — no DISTINCT, no FILTER, no
    * expressions (those shapes don't re-aggregate from stored partials).
    * A stored count(col) partial additionally lets the rewrite serve a
    * contained query's count(col) (sum of partials) and integral
    * avg(col) (sum of sums / sum of counts — the exact division Spark's
    * own Average performs on integral input; DECIMAL/float avg stays
    * fail-closed in [[GraftMvRewriteRule.tryRollup]]'s translate). */
  private def deriveRollup(plan: LogicalPlan): Option[RollupInfo] = plan match {
    case Aggregate(groupExprs, aggExprs, child, _)
        if groupExprs.nonEmpty &&
          groupExprs.forall(_.isInstanceOf[AttributeReference]) =>
      val groups = groupExprs.map(_.asInstanceOf[AttributeReference].name)
      var count: Option[String] = None
      val sums = mutable.Map[String, String]()
      val mins = mutable.Map[String, String]()
      val maxs = mutable.Map[String, String]()
      val cnts = mutable.Map[String, String]()
      val gmap = mutable.Map[String, String]()
      val ok = aggExprs.forall {
        case a: AttributeReference if groups.contains(a.name) =>
          gmap(a.name) = a.name; true
        case Alias(a: AttributeReference, nm) if groups.contains(a.name) =>
          gmap(a.name) = nm; true
        case Alias(ae: AggregateExpression, nm)
            if !ae.isDistinct && ae.filter.isEmpty =>
          ae.aggregateFunction match {
            case Count(Seq(Literal(1, _))) => count = Some(nm); true
            // a stored sketch partial does not DISQUALIFY the view from
            // rollup (its count/sum partials still serve coarser
            // grains exactly) — but no sketch-derived OUTPUT is ever
            // served: the estimate of a union of partials is NOT the
            // estimate the direct query computes (DataSketches switches
            // HIP → composite estimation on union, so the number
            // depends on merge structure — SketchesSpec pins a direct
            // estimate of 995 against 996 for the union of per-part
            // sketches at |set| = 1000). Approximate-but-different is
            // still a changed answer: fail closed.
            case h: HllSketchAgg => h.left.isInstanceOf[AttributeReference]
            case Count(Seq(a: AttributeReference)) => cnts(a.name) = nm; true
            case Sum(a: AttributeReference, _) => sums(a.name) = nm; true
            case Min(a: AttributeReference) => mins(a.name) = nm; true
            case Max(a: AttributeReference) => maxs(a.name) = nm; true
            // a stored avg(col) output is DERIVED (sum/cnt already serve
            // it) — its presence must not disqualify the view's other
            // partials from rolling up
            case Average(_: AttributeReference, _) => true
            case _ => false
          }
        case _ => false
      }
      if (ok && groups.forall(gmap.contains))
        Some(RollupInfo(fingerprint(child), gmap.toMap, count,
          sums.toMap, mins.toMap, maxs.toMap, cnts.toMap))
      else None
    case _ => None
  }

  private def install(d: MvDef): Unit = {
    views.put(d.key, d): Unit
    d.persistDir.foreach(pd => persist(pd, d))
    hitCounters.putIfAbsent(d.key, new AtomicLong(0L)): Unit
  }

  /** Every leaf of a definition must be a graft-catalog manifest table —
    * the only leaf kind whose fingerprint carries a data identity
    * (identifier @ pinned version) and whose staleness the registry can
    * track. A LocalRelation / temp-view-over-parquet / v1 relation leaf
    * would fingerprint by schema alone, letting a query over DIFFERENT
    * data match this view's materialization. */
  private def guardLeaves(plan: LogicalPlan, name: String): Unit =
    plan.collectLeaves().foreach {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftSqlTable] => ()
      case other => throw new IllegalArgumentException(
        s"GraftMaterializedViews.register('$name'): definition reads a " +
          s"${other.nodeName} leaf — only graft catalog (manifest-backed) " +
          "tables carry the pinned-version identity the fingerprint and " +
          "staleness tracking require; CREATE TABLE + INSERT the source " +
          "into the catalog first")
    }

  /** Re-materialize and re-record dependency versions. Runs under the
    * same rewrite suppression as registration — refreshing a view that
    * is still fresh (an explicit warm-up, or a crash-retry) must read
    * the BASE, never its own stale materialization. */
  def refresh(spark: SparkSession, name: String): Unit = {
    val v = Option(views.get(name)).getOrElse(
      sys.error(s"GraftMaterializedViews.refresh: no view '$name'"))
    val nd = materialize(spark, name, v.defSql, v.mvDir, v.deps.map(_._1),
      v.persistDir)
    install(nd.copy(aggShape = v.aggShape, joinShape = v.joinShape,
      snowShape = v.snowShape))
  }

  /** Register the INCREMENTALLY-maintainable shape — group keys +
    * count(*) + sums over one base table (`baseSql` is the SQL
    * identifier the user queries; `baseDir` its manifest directory).
    * Distributive aggregates are the shape every production MV system
    * maintains incrementally (the q100 partial-merge contract, here at
    * engine level): [[refreshIncremental]] folds the base's change feed
    * into the stored groups instead of re-aggregating history. Group
    * keys must be non-null (the merge joins by key equality). Returns
    * the definition SQL (exactly what the rewrite will match). */
  def registerAgg(spark: SparkSession, name: String, baseSql: String,
                  baseDir: String, groupCols: Seq[String],
                  sumCols: Seq[String], mvDir: String,
                  persistDir: Option[String] = None,
                  minCols: Seq[String] = Nil,
                  maxCols: Seq[String] = Nil,
                  avgCols: Seq[String] = Nil,
                  distinctCols: Seq[String] = Nil,
                  where: Option[String] = None): String = {
    require(groupCols.nonEmpty, "registerAgg: no group columns")
    // a FILTERED view (r16): `where` scopes the view to a slice of the
    // base — the hot-window dashboard MV ("last 90 days by (day, type)")
    // that would otherwise re-scan or hand-maintain. The predicate must
    // be DETERMINISTIC over base columns: the refresh applies it to
    // every feed delta, and insert and delete events filter identically,
    // so the signed fold identity is unchanged on the filtered multiset.
    // (A non-deterministic predicate would classify an insert and its
    // later delete differently — refuse up front.)
    where.foreach { w =>
      val probe = suppressRewrite(
        spark.sql(s"SELECT * FROM $baseSql WHERE $w").queryExecution.analyzed)
      val det = probe.collectFirst { case Filter(c, _) => c.deterministic }
      require(det.getOrElse(false),
        s"registerAgg('$name'): the where predicate must be a " +
          s"deterministic filter over base columns, got: $w")
    }
    require(avgCols.forall(sumCols.contains),
      "registerAgg: every avg column must also be a sum column — avg is " +
        "DERIVED (sum/count are the partials an incremental refresh folds; " +
        "avg itself is not distributive)")
    // EVERY sum column stores its NON-NULL count partial (r16; avg-only
    // in r15): `cnt_<c> = count(c)`. Three things ride on it —
    //  1. SQL avg(c) = sum(c)/count(c), NOT sum(c)/count(*): dividing by
    //     n_rows would drift every group whose column carries NULLs
    //     (ADVICE r14);
    //  2. the SUM fold's NULL edge is exact for ALL sum columns: when a
    //     delete removes a group's last non-null value the folded
    //     count(c) reaches 0 and the sum returns to NULL — without the
    //     partial, a bare sum column folded to 0 where a recompute says
    //     NULL (ADVICE r15);
    //  3. the ROLLUP containment rewrite serves count(col) (= sum of cnt
    //     partials) and integral avg(col) (= sum of sums / sum of cnts)
    //     at any contained grain — the most-asked dashboard aggregates
    //     after count(*)/sum (VERDICT r15 #1).
    //
    // a DISTINCT column (r15) stores a re-aggregatable HLL sketch
    // partial (`hll_sketch_agg`) — exact distinct counts are not
    // distributive (a partial can't subtract, a coarser grain can't
    // re-add), sketches are. The MAINTAINED SKETCH TABLE is the serving
    // surface: dashboards read it and `hll_union_agg` +
    // `hll_sketch_estimate` at any grain. The automatic rewrite
    // deliberately does NOT substitute sketch math for a base query's
    // `hll_sketch_estimate(hll_sketch_agg(c))`: the estimate of a union
    // of partials is merge-structure-dependent (HIP → composite,
    // pinned in SketchesSpec) — approximate-but-DIFFERENT is still a changed
    // answer, so that shape fails closed.
    val defSql = s"SELECT ${groupCols.mkString(", ")}, count(*) AS n_rows" +
      sumCols.map(c => s", sum($c) AS sum_$c").mkString +
      minCols.map(c => s", min($c) AS min_$c").mkString +
      maxCols.map(c => s", max($c) AS max_$c").mkString +
      avgCols.map(c => s", avg($c) AS avg_$c").mkString +
      sumCols.map(c => s", count($c) AS cnt_$c").mkString +
      distinctCols.map(c => s", hll_sketch_agg($c) AS hll_$c").mkString +
      s" FROM $baseSql" + where.map(w => s" WHERE $w").getOrElse("") +
      s" GROUP BY ${groupCols.mkString(", ")}"
    val nd = materialize(spark, name, defSql, mvDir, Seq(baseDir), persistDir)
    install(nd.copy(aggShape =
      Some(AggShape(baseDir, groupCols, sumCols, minCols, maxCols, avgCols,
        distinctCols, where))))
    defSql
  }

  /** Register the two-table STAR shape: `factSql ⋈ dimSql USING
    * (joinKey)`, grouped, with count(*) + per-column sums — the
    * dashboard query over a 100 TB fact and its dimension. Incremental
    * maintenance composes the q259 delta-join identity with the
    * distributive fold: [[refreshIncremental]] refreshes from BOTH
    * bases' change feeds without ever re-joining history. Returns the
    * definition SQL (exactly what the rewrite will match). */
  def registerJoinAgg(spark: SparkSession, name: String,
                      factSql: String, factDir: String,
                      dimSql: String, dimDir: String, joinKey: String,
                      groupCols: Seq[String], sumCols: Seq[String],
                      mvDir: String,
                      persistDir: Option[String] = None): String = {
    require(groupCols.nonEmpty, "registerJoinAgg: no group columns")
    require(factDir != dimDir,
      "registerJoinAgg: fact and dim must be distinct tables " +
        "(self-join deltas need both sides' versions to move independently)")
    val defSql = s"SELECT ${groupCols.mkString(", ")}, count(*) AS n_rows" +
      sumCols.map(c => s", sum($c) AS sum_$c").mkString +
      s" FROM $factSql JOIN $dimSql USING ($joinKey)" +
      s" GROUP BY ${groupCols.mkString(", ")}"
    val nd = materialize(spark, name, defSql, mvDir, Seq(factDir, dimDir),
      persistDir)
    install(nd.copy(joinShape =
      Some(JoinShape(factDir, dimDir, joinKey, groupCols, sumCols))))
    defSql
  }

  /** Register the k-table SNOWFLAKE shape: `sides` = (SQL identifier,
    * manifest dir) pairs, the first the fact; side i (i ≥ 1) joins the
    * accumulated result `USING (joinKeys(i-1))` — the TPC-H Q9 profit
    * rollup is `(lineitem, part, supplier)` in this grammar. Incremental
    * maintenance folds ALL k change feeds in one refresh without ever
    * re-joining history ([[refreshIncrementalSnowflake]]). Returns the
    * definition SQL (exactly what the rewrite will match). */
  def registerSnowflakeAgg(spark: SparkSession, name: String,
                           sides: Seq[(String, String)],
                           joinKeys: Seq[String],
                           groupCols: Seq[String], sumCols: Seq[String],
                           mvDir: String,
                           persistDir: Option[String] = None): String = {
    require(sides.length >= 2,
      "registerSnowflakeAgg: need at least two sides (use registerAgg " +
        "for a single table)")
    require(joinKeys.length == sides.length - 1,
      s"registerSnowflakeAgg: ${sides.length} sides need " +
        s"${sides.length - 1} join keys, got ${joinKeys.length}")
    require(sides.map(_._2).distinct.length == sides.length,
      "registerSnowflakeAgg: sides must be distinct tables (self-join " +
        "deltas need every side's version to move independently)")
    require(groupCols.nonEmpty, "registerSnowflakeAgg: no group columns")
    val defSql = s"SELECT ${groupCols.mkString(", ")}, count(*) AS n_rows" +
      sumCols.map(c => s", sum($c) AS sum_$c").mkString +
      s" FROM ${sides.head._1}" +
      sides.tail.zip(joinKeys).map { case ((sql, _), k) =>
        s" JOIN $sql USING ($k)" }.mkString +
      s" GROUP BY ${groupCols.mkString(", ")}"
    val nd = materialize(spark, name, defSql, mvDir, sides.map(_._2),
      persistDir)
    install(nd.copy(snowShape = Some(
      SnowflakeShape(sides.map(_._2), joinKeys, groupCols, sumCols))))
    defSql
  }

  /** Monitoring: base-SNAPSHOT reads issued by snowflake incremental
    * refreshes. Pins the telescoping bound: an all-unchanged refresh
    * reads zero snapshots; a single-changed-side refresh reads exactly
    * k−1 (its leg's probe sides) — the k-way HISTORY join is never
    * re-executed. */
  private[graft] val refreshSnapshotReads = new AtomicLong(0L)

  /** Incremental refresh for [[registerAgg]] / [[registerJoinAgg]]
    * views: read ONLY the bases' change feeds since the recorded
    * versions (insert events add, delete events subtract — an update's
    * delete+insert pair nets the difference), merge the delta partials
    * into the stored |groups| rows with one full-outer join, drop groups
    * whose count reaches zero, and overwrite the MV. Single-table shape:
    * O(|delta| + |groups|) — history is never re-aggregated, which is
    * the only refresh shape that survives a 100 TB base with daily
    * deltas. Join shape: the delta of the join is
    * `ΔF⋈D₀ ∪ F₀⋈ΔD ∪ ΔF⋈ΔD` (signed) — F₀⋈D₀, the history join, is
    * never recomputed, and an UNCHANGED side skips its snapshot read
    * entirely (the common fact-only day touches the dim snapshot only
    * as the broadcast probe target of the fact delta). Rewrite commits
    * in range contribute zero events (the feed's marker contract), so
    * compaction on a base never forces a full recompute. Content is
    * identical to [[refresh]] by the distributive-aggregate algebra —
    * spec-pinned both exceptAll directions. */
  def refreshIncremental(spark: SparkSession, name: String): Unit = {
    val v = Option(views.get(name)).getOrElse(
      sys.error(s"GraftMaterializedViews.refreshIncremental: no view '$name'"))
    (v.aggShape, v.joinShape, v.snowShape) match {
      case (Some(sh), _, _) => refreshIncrementalAgg(spark, v, sh)
      case (_, Some(sh), _) => refreshIncrementalJoin(spark, v, sh)
      case (_, _, Some(sh)) => refreshIncrementalSnowflake(spark, v, sh)
      case _ => sys.error(
        s"refreshIncremental: view '$name' was not registered with " +
          "registerAgg/registerJoinAgg/registerSnowflakeAgg (arbitrary " +
          "definitions re-materialize with refresh)")
    }
  }

  private def refreshIncrementalAgg(spark: SparkSession, v: MvDef,
                                    sh: AggShape): Unit = {
    import org.apache.spark.sql.functions._
    val (dir, recorded) = v.deps.head
    val head = ManifestTable.currentVersion(dir)
    if (head == recorded) return
    val feed0 = ManifestTable.changeFeed(spark, dir, recorded, head)
    if (ManifestTable.isMaintenanceOnlyFeed(feed0)) {
      // an all-REWRITE range (compaction/binpack/rewrite_deletes only)
      // contributes zero events — content is bit-identical, so just
      // advance the recorded version (found by the r14 random-walk soak:
      // a binpack-only gap between two refreshes crashed the fold).
      // the "is it maintenance-only" decision lives in ManifestTable
      // (the feed's producer), which also REQUIRES the schemaless-empty
      // shape — a typed-but-column-less feed fails loudly there instead
      // of silently reading as "no changes" here.
      // copy() preserves fpVerified/rollup: a sidecar-reloaded view whose
      // FIRST touch is a maintainer refresh must still lazily re-derive
      // its fingerprint (and its never-serialized RollupInfo) at first
      // match — blanket-stamping true here trusted a prior session's
      // fingerprint string and silently shed rollup containment
      // (VERDICT r14 #1)
      install(v.copy(deps = Seq(dir -> head)))
      return
    }
    // a FILTERED view folds only its slice: the predicate applies to
    // every feed event — inserts and deletes filter identically, so the
    // signed fold identity is unchanged on the filtered multiset, and
    // an out-of-window delete is the no-op it should be (its row never
    // entered the view)
    val feed = sh.where.map(w => feed0.filter(expr(w))).getOrElse(feed0)
    // a distinct-declared view reads the feed twice (the delete-presence
    // gate below, then the delta fold or touched-set) — persist the
    // O(|delta|) feed once per refresh instead of re-planning the
    // change-feed scan per pass. Other shapes read it once: no persist
    // (the per-commit maintainer path stays allocation-free).
    if (sh.distinctCols.nonEmpty)
      feed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): Unit
    try {
    // sketches (like min/max) don't subtract: a delete-bearing feed
    // routes a distinct-declared view through the touched-group
    // recompute; an insert-only feed (the append-heavy common case)
    // stays on the pure fold and UNIONS the delta sketches in
    val sketchFold = sh.distinctCols.nonEmpty &&
      feed.filter(col("_change_type") === "delete").isEmpty
    if (sh.minCols.isEmpty && sh.maxCols.isEmpty &&
        (sh.distinctCols.isEmpty || sketchFold)) {
      // pure-distributive shape: fold the feed, never touch the base
      val sign = when(col("_change_type") === "insert", 1L).otherwise(-1L)
      val delta = feed.groupBy(sh.groupCols.map(col): _*)
        .agg(sum(sign).as("_d_n"),
          (sh.sumCols.map(c => sum(sign * col(c)).as(s"_d_$c")) ++
           // every sum column's non-null count partial, signed like n
           sh.sumCols.map(c => sum(when(col(c).isNotNull, sign)
             .otherwise(0L)).as(s"_d_cnt_$c")) ++
           sh.distinctCols.map(c =>
             hll_sketch_agg(col(c)).as(s"_d_hll_$c"))): _*)
      foldDelta(spark, v, sh.groupCols, sh.sumCols, delta, Seq(dir -> head),
        avgCols = sh.avgCols, distinctCols = sh.distinctCols,
        cntCols = sh.sumCols)
    } else {
      // min/max don't subtract: a delete may remove a group's extremum
      // and the true runner-up lives only in the base. Re-aggregate the
      // TOUCHED groups (distinct group keys in the feed) from a
      // semi-join-pruned base scan — O(|groups| + base∩touched), still
      // never full history re-aggregated for the untouched groups,
      // which at 100 TB is nearly all of them. Cluster the base on the
      // group key (`write.order`) and the touched scan file-skips too.
      // the touched set is |delta's distinct group keys| — small on the
      // daily-delta path, but a backfill-scale catch-up batch is not:
      // no broadcast hint (AQE broadcasts genuinely small sides itself;
      // an unconditional hint would OOM the driver on a
      // maxVersionsPerTrigger catch-up feed — VERDICT r14 watch item)
      val touched = feed.select(sh.groupCols.map(col): _*).distinct()
      val base0 = ManifestTable.read(spark, dir)
      val base = sh.where.map(w => base0.filter(expr(w))).getOrElse(base0)
      val recomputed = base
        .join(touched, sh.groupCols, "left_semi")
        .groupBy(sh.groupCols.map(col): _*)
        .agg(count(lit(1)).as("n_rows"),
          sh.sumCols.map(c => sum(col(c)).as(s"sum_$c")) ++
          sh.minCols.map(c => min(col(c)).as(s"min_$c")) ++
          sh.maxCols.map(c => max(col(c)).as(s"max_$c")) ++
          sh.avgCols.map(c => avg(col(c)).as(s"avg_$c")) ++
          sh.sumCols.map(c => count(col(c)).as(s"cnt_$c")) ++
          sh.distinctCols.map(c => hll_sketch_agg(col(c)).as(s"hll_$c")): _*)
      val cur = suppressRewrite(ManifestTable.read(spark, v.mvDir))
      // untouched groups carry verbatim; touched groups (including any
      // whose last row vanished — absent from `recomputed`) replace
      val merged = cur.join(touched, sh.groupCols, "left_anti")
        .unionByName(recomputed.select(cur.columns.map(col).toSeq: _*))
      ManifestTable.commit(merged, v.mvDir, append = false): Unit
      install(v.copy(deps = Seq(dir -> head)))
    }
    } finally if (sh.distinctCols.nonEmpty) feed.unpersist(): Unit
  }

  private def refreshIncrementalJoin(spark: SparkSession, v: MvDef,
                                     sh: JoinShape): Unit = {
    import org.apache.spark.sql.functions._
    val Seq((fDir, fRec), (dDir, dRec)) = v.deps
    val fHead = ManifestTable.currentVersion(fDir)
    val dHead = ManifestTable.currentVersion(dDir)
    if (fHead == fRec && dHead == dRec) return
    val sign = when(col("_change_type") === "insert", 1L).otherwise(-1L)
    def proj(df: org.apache.spark.sql.DataFrame, s: org.apache.spark.sql.Column) =
      df.select(sh.groupCols.map(col) ++ sh.sumCols.map(col) :+
        s.as("_sign"): _*)
    // a side whose range is maintenance-only (zero events — the
    // isMaintenanceOnlyFeed contract, enforced at the producer) is an
    // UNCHANGED side: its delta legs drop entirely
    def sideDelta(dir0: String, from: Int, to: Int, s0: String)
        : Option[org.apache.spark.sql.DataFrame] =
      if (to <= from) None
      else {
        val f = ManifestTable.changeFeed(spark, dir0, from, to)
        if (ManifestTable.isMaintenanceOnlyFeed(f)) None
        else Some(f.withColumn(s0, sign).drop("_change_type"))
      }
    val dF = sideDelta(fDir, fRec, fHead, "_sf")
    val dD = sideDelta(dDir, dRec, dHead, "_sd")
    // Δ(F⋈D) = ΔF⋈D₀ ∪ F₀⋈ΔD ∪ ΔF⋈ΔD, every event row signed ±1 and a
    // joined row's sign the PRODUCT of its sides' — the q259 identity.
    // The deltas are the small side of every join on the daily-delta
    // path, but not on a backfill catch-up: no broadcast hints (AQE
    // broadcasts small sides from actual sizes; an unconditional hint
    // would OOM the driver on a multi-version catch-up delta)
    val parts = mutable.ArrayBuffer[org.apache.spark.sql.DataFrame]()
    dF.foreach { f =>
      parts += proj(f
        .join(ManifestTable.read(spark, dDir, dRec), Seq(sh.joinKey)),
        col("_sf")): Unit
    }
    dD.foreach { d =>
      parts += proj(ManifestTable.read(spark, fDir, fRec)
        .join(d, Seq(sh.joinKey)), col("_sd")): Unit
    }
    for (f <- dF; d <- dD)
      parts += proj(f.join(d, Seq(sh.joinKey)),
        col("_sf") * col("_sd")): Unit
    if (parts.isEmpty) {
      // both ranges were maintenance-only: content unchanged (copy
      // preserves fpVerified/rollup — see refreshIncrementalAgg)
      install(v.copy(deps = Seq(fDir -> fHead, dDir -> dHead)))
      return
    }
    val delta = parts.reduce(_ unionByName _)
      .groupBy(sh.groupCols.map(col): _*)
      .agg(sum(col("_sign")).as("_d_n"),
        sh.sumCols.map(c => sum(col("_sign") * col(c)).as(s"_d_$c")): _*)
    foldDelta(spark, v, sh.groupCols, sh.sumCols, delta,
      Seq(fDir -> fHead, dDir -> dHead))
  }

  /** k-table snowflake incremental refresh via the TELESCOPING identity:
    * with `N_j` = side j at its NEW head, `O_j` = side j at its RECORDED
    * version, and `J_i` = the chain join with sides 1..i new and
    * i+1..k old,
    *
    *   `J_k − J_0  =  Σᵢ (J_i − J_{i-1})
    *              =  Σᵢ  N_1 ⋈ … ⋈ N_{i-1} ⋈ Δᵢ ⋈ O_{i+1} ⋈ … ⋈ O_k`
    *
    * (the chain join is multilinear in each side under signed-multiset
    * semantics, so consecutive terms cancel). ONE leg per CHANGED side,
    * each carrying exactly one signed delta — the k-way history join
    * `J_0` is never re-executed, an unchanged side contributes no leg,
    * and a single-changed-side refresh reads exactly k−1 snapshots (its
    * leg's probe sides; [[refreshSnapshotReads]] pins the bound, and
    * pins ≤ 2k−2 distinct reads when ALL sides changed — snapshots are
    * memoized per (side, version) across legs). Each leg is built
    * DELTA-FIRST (ADVICE r15): Δᵢ is a side of the leg's first join and
    * the accumulation of every later one, so the probe snapshots are
    * only ever joined against a delta-bounded row set — the executed
    * join cost is O(Σᵢ |Δᵢ| ⋈ probes), not a re-execution of the
    * history join under a different name. This is the standard
    * sequential IVM fold — k legs instead of the 2ᵏ−1-term
    * inclusion–exclusion expansion. */
  private def refreshIncrementalSnowflake(spark: SparkSession, v: MvDef,
                                          sh: SnowflakeShape): Unit = {
    import org.apache.spark.sql.functions._
    val k = sh.sideDirs.length
    val rec = v.deps.map(_._2)
    val heads = sh.sideDirs.map(ManifestTable.currentVersion)
    if (heads.zip(rec).forall { case (h, r) => h == r }) return
    val sign = when(col("_change_type") === "insert", 1L).otherwise(-1L)
    // a side whose range is maintenance-only (zero events — the
    // isMaintenanceOnlyFeed contract, enforced at the producer) is an
    // UNCHANGED side: its leg drops entirely
    def sideDelta(i: Int): Option[org.apache.spark.sql.DataFrame] =
      if (heads(i) <= rec(i)) None
      else {
        val f = ManifestTable.changeFeed(spark, sh.sideDirs(i), rec(i), heads(i))
        if (ManifestTable.isMaintenanceOnlyFeed(f)) None
        else Some(f.withColumn("_sign", sign).drop("_change_type"))
      }
    // snapshots MEMOIZED per (side, version): across all k legs each
    // distinct pair is manifest-planned once — an all-k-sides-changed
    // refresh issues at most 2k−2 distinct snapshot reads (side j at
    // its new head for legs i > j, at its recorded version for legs
    // i < j; the endpoints appear once each), never O(k²)
    val snapCache = mutable.HashMap.empty[(Int, Int), org.apache.spark.sql.DataFrame]
    def snap(i: Int, ver: Int): org.apache.spark.sql.DataFrame =
      snapCache.getOrElseUpdate((i, ver), {
        refreshSnapshotReads.incrementAndGet(): Unit
        ManifestTable.read(spark, sh.sideDirs(i), ver)
      })
    // leg i probes side j at its NEW head when j < i, RECORDED when j > i
    // (the telescoping identity's N₁…N_{i-1} ⋈ Δᵢ ⋈ O_{i+1}…O_k)
    def probe(i: Int, j: Int): org.apache.spark.sql.DataFrame =
      snap(j, if (j < i) heads(j) else rec(j))
    val parts = mutable.ArrayBuffer[org.apache.spark.sql.DataFrame]()
    for (i <- 0 until k; d <- sideDelta(i)) {
      // DELTA-LEADING leg order (ADVICE r15): start from Δᵢ and join
      // OUTWARD along the chain's join tree, so the delta-bounded
      // accumulation is a side of EVERY join in the leg — Spark does
      // not reorder inner joins without CBO, so the old fact-first left
      // fold re-executed a (k−1)-way history join in full on a dim-only
      // change. The tree: `USING (k_m)` in the left fold binds side m+1
      // to the FIRST earlier side carrying column k_m (USING coalesces,
      // so later references resolve to that carrier) — one edge per
      // key, reconstructed here by name. Re-ordering inner equi-joins
      // along tree edges, applying each edge's key exactly where both
      // endpoints meet, reproduces the left fold's multiset for star,
      // chain, and mixed topologies.
      def legCols(j: Int): Set[String] =
        if (j == i) d.columns.toSet else probe(i, j).columns.toSet
      val edges = (1 until k).map { s =>
        val kk = sh.joinKeys(s - 1)
        val owner = (0 until s).find(j => legCols(j).contains(kk))
          .getOrElse(sys.error(
            s"refreshIncrementalSnowflake('${v.name}'): join key '$kk' " +
              s"for side $s is not carried by any earlier side"))
        (owner, s, kk)
      }
      var acc = d
      val included = mutable.Set(i)
      while (included.size < k) {
        val next = (0 until k).find(j => !included.contains(j) &&
          edges.exists { case (a, b, _) =>
            (a == j && included.contains(b)) ||
              (b == j && included.contains(a)) }).getOrElse(sys.error(
          s"refreshIncrementalSnowflake('${v.name}'): the join tree is " +
            s"disconnected from side $i — cannot order the delta leg"))
        val using = edges.collect { case (a, b, kk)
          if (a == next && included.contains(b)) ||
            (b == next && included.contains(a)) => kk }.distinct
        acc = acc.join(probe(i, next), using)
        included += next: Unit
      }
      parts += acc.select(sh.groupCols.map(col) ++ sh.sumCols.map(col) :+
        col("_sign"): _*): Unit
    }
    if (parts.isEmpty) {
      // every range was maintenance-only: content unchanged (copy
      // preserves fpVerified/rollup — see refreshIncrementalAgg)
      install(v.copy(deps = sh.sideDirs.zip(heads)))
      return
    }
    val delta = parts.reduce(_ unionByName _)
      .groupBy(sh.groupCols.map(col): _*)
      .agg(sum(col("_sign")).as("_d_n"),
        sh.sumCols.map(c => sum(col("_sign") * col(c)).as(s"_d_$c")): _*)
    foldDelta(spark, v, sh.groupCols, sh.sumCols, delta,
      sh.sideDirs.zip(heads))
  }

  /** Fold signed delta partials (`_d_n`, `_d_<c>`, `_d_cnt_<c>`) into the
    * stored groups: one full-outer join against the O(|groups|) MV,
    * zero-count groups dropped, declared averages RE-DERIVED from the
    * folded sum + NON-NULL-count partials (SQL avg(c) = sum(c)/count(c),
    * never sum(c)/count(*) — the same derivation Spark's own Average
    * performs; ADVICE r14 high), MV overwritten, dependency versions
    * advanced.
    *
    * NULL discipline for sums: a group both sides see as NULL stays NULL
    * (sum over zero non-null values is NULL, not 0), and any
    * cnt-carrying column whose folded count(c) reaches 0 returns its sum
    * (and avg) to NULL — the delete-removing-the-last-non-null-value
    * edge only a stored count can see. Since r16 the agg shape stores
    * count(c) for EVERY sum column, so that edge is exact across the
    * board (ADVICE r15: bare sums used to fold to 0 where a recompute
    * says NULL); join/snowflake shapes don't store counts and keep the
    * documented 0-fold on that edge. */
  private def foldDelta(spark: SparkSession, v: MvDef,
                        groupCols: Seq[String], sumCols: Seq[String],
                        delta: org.apache.spark.sql.DataFrame,
                        newDeps: Seq[(String, Int)],
                        avgCols: Seq[String] = Nil,
                        distinctCols: Seq[String] = Nil,
                        cntCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions._
    val cur = suppressRewrite(ManifestTable.read(spark, v.mvDir))
    // a view materialized before cnt partials covered every sum column
    // (pre-r16 sidecar generation) folds only the partials its table
    // actually stores — extra delta columns are simply never selected
    val cnts = cntCols.filter(c => cur.columns.contains(s"cnt_$c"))
    val merged = cur.join(delta, groupCols, "full_outer")
      .select(groupCols.map(col) ++
        Seq((coalesce(col("n_rows"), lit(0L)) +
          coalesce(col("_d_n"), lit(0L))).as("n_rows")) ++
        sumCols.map(c =>
          when(col(s"sum_$c").isNull && col(s"_d_$c").isNull,
            lit(null))
          .otherwise(coalesce(col(s"sum_$c"), lit(0L)) +
            coalesce(col(s"_d_$c"), lit(0L)))
          // the stored column's own type — integer sums merge EXACTLY
          // (the identity-to-recompute pin holds); float sums would
          // differ by summation order, same as any distributive merge
          .cast(cur.schema(s"sum_$c").dataType).as(s"sum_$c")) ++
        cnts.map(c => (coalesce(col(s"cnt_$c"), lit(0L)) +
          coalesce(col(s"_d_cnt_$c"), lit(0L)))
          .cast(cur.schema(s"cnt_$c").dataType).as(s"cnt_$c")) ++
        // sketches UNION in (insert-only path — deletes re-sketch the
        // touched groups instead); either side absent carries the other
        distinctCols.map(c =>
          when(col(s"hll_$c").isNull, col(s"_d_hll_$c"))
          .when(col(s"_d_hll_$c").isNull, col(s"hll_$c"))
          .otherwise(hll_union(col(s"hll_$c"), col(s"_d_hll_$c")))
          .as(s"hll_$c")): _*)
      .filter(col("n_rows") > 0)
    val withCnt = cnts.foldLeft(merged)((df, c) =>
      df.withColumn(s"sum_$c", when(col(s"cnt_$c") > 0, col(s"sum_$c"))
        .cast(cur.schema(s"sum_$c").dataType)))
    val withAvg = avgCols.foldLeft(withCnt)((df, c) =>
      df.withColumn(s"avg_$c", when(col(s"cnt_$c") > 0,
          col(s"sum_$c").cast("double") / col(s"cnt_$c").cast("double"))
        .cast(cur.schema(s"avg_$c").dataType)))
    ManifestTable.commit(withAvg.select(cur.columns.map(col).toSeq: _*),
      v.mvDir, append = false): Unit
    install(v.copy(deps = newDeps))
  }

  /** Unregister (and, for persisted views, tombstone the sidecar so a
    * restarted session does not resurrect it). The materialization at
    * `mvDir` is left in place — dropping a view is a registry operation,
    * not a data deletion. */
  def drop(name: String): Unit = {
    val v = views.remove(name)
    // the sidecar file family is keyed by the view's BARE name — a
    // qualified registry key ('dir::name') still tombstones '<name>.gN'
    // in its own persistDir
    Option(v).foreach(d =>
      d.persistDir.foreach(pd => persistDrop(pd, d.name)))
  }

  /** Rewrites served for `name` since registration — counts
    * ANALYSIS-time substitutions (the decision point), not executions;
    * a DataFrame collected twice is one hit (test/monitoring). */
  def hits(name: String): Long =
    Option(hitCounters.get(name)).map(_.get()).getOrElse(0L)

  /** Views whose every dependency is still at its recorded version.
    * `ver` memoizes the per-directory head listing so N views over one
    * base cost ONE listing per query, not N. */
  private[v2] def freshViews(ver: String => Int): Seq[MvDef] = {
    import scala.jdk.CollectionConverters._
    views.values().asScala.toSeq.filter(v =>
      v.deps.forall { case (d, recorded) => ver(d) == recorded })
  }

  /** A view reloaded from the sidecar carries the fingerprint a PRIOR
    * session derived; before its first match in THIS session, re-derive
    * it from the stored definition SQL (under suppression — the
    * re-analysis itself must not rewrite). Fails soft: a definition this
    * session cannot analyze (its catalog not registered here) just never
    * matches — fail closed, retried on a later query. */
  private[v2] def ensureFingerprint(spark: SparkSession, v: MvDef): Option[MvDef] =
    if (v.fpVerified) Some(v)
    else try {
      val analyzed = suppressRewrite(spark.sql(v.defSql).queryExecution.analyzed)
      val nd = v.copy(fingerprint = fingerprint(analyzed),
        outputWidth = analyzed.output.length, rootNode = analyzed.nodeName,
        fpVerified = true, rollup = deriveRollup(analyzed))
      views.put(v.key, nd): Unit
      Some(nd)
    } catch { case scala.util.control.NonFatal(_) => None }

  private[v2] def recordHit(name: String): Unit = {
    Option(hitCounters.get(name)).foreach(_.incrementAndGet(): Unit)
  }

  /** Monitoring: how many plan subtrees have been serialized for a match
    * attempt. The (output width, root node) pre-filter keeps this near
    * zero for queries unrelated to any armed view — spec-pinned. */
  private[graft] val fingerprintCalls = new AtomicLong(0L)

  /** Observability (`CALL graft.system.list_mvs`): one row per
    * registered view — name, current freshness (every dependency at its
    * recorded version; an unreadable dependency reads as stale), the
    * declared shape, rewrite hits, and the materialization directory. */
  def describeAll(): Seq[(String, Boolean, String, Long, String)] = {
    import scala.jdk.CollectionConverters._
    val cache = mutable.HashMap.empty[String, Option[Int]]
    def ver(d: String): Option[Int] = cache.getOrElseUpdate(d,
      scala.util.Try(ManifestTable.currentVersion(d)).toOption)
    views.values().asScala.toSeq.sortBy(_.key).map { v =>
      val fresh = v.deps.forall { case (d, r) => ver(d).contains(r) }
      val shape =
        if (v.snowShape.isDefined) "snowflake-agg"
        else if (v.joinShape.isDefined) "join-agg"
        else if (v.aggShape.exists(_.distinctCols.nonEmpty)) "distinct-agg"
        else if (v.aggShape.exists(s => s.minCols.nonEmpty || s.maxCols.nonEmpty))
          "minmax-agg"
        else if (v.aggShape.isDefined) "agg"
        else "exact"
      (v.key, fresh, shape, hits(v.key), v.mvDir)
    }
  }

  /** Registry lookup for catalog verbs that operate ON a view (e.g.
    * `CALL graft.system.uniques`) rather than through the rewrite. */
  private[v2] def lookup(name: String): Option[MvDef] =
    Option(views.get(name))

  /** Test hook: clear the IN-MEMORY registry, simulating a JVM restart.
    * Persisted sidecar state is untouched and re-arms on the next
    * catalog initialization. */
  private[graft] def forgetInMemory(): Unit = views.clear()

  // ---------------------------------------------------------------------
  // Durable registry: per-view generation files under the warehouse's
  // `_mv/` sidecar, claimed by create-no-overwrite hard links (the tags
  // CAS discipline — ManifestTable.mutateTags). One file family per view
  // (`<name>.g<N>`), so registrations of DIFFERENT views never contend;
  // a re-register/refresh/drop of the SAME view claims generation N+1 and
  // retries on EEXIST. Values are URL-encoded (definition SQL spans
  // lines); a `#dropped` first line tombstones the view.
  // ---------------------------------------------------------------------

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private def serialize(d: MvDef): Seq[String] = {
    val b = mutable.ArrayBuffer[String]()
    b += s"defSql=${enc(d.defSql)}"
    b += s"mvDir=${enc(d.mvDir)}"
    d.deps.foreach { case (dir, v) => b += s"dep=${enc(dir)}|$v" }
    b += s"fingerprint=${enc(d.fingerprint)}"
    b += s"outputWidth=${d.outputWidth}"
    b += s"rootNode=${enc(d.rootNode)}"
    d.aggShape.foreach { sh =>
      b += s"agg.baseDir=${enc(sh.baseDir)}"
      b += s"agg.groupCols=${sh.groupCols.map(enc).mkString(",")}"
      b += s"agg.sumCols=${sh.sumCols.map(enc).mkString(",")}"
      if (sh.minCols.nonEmpty)
        b += s"agg.minCols=${sh.minCols.map(enc).mkString(",")}"
      if (sh.maxCols.nonEmpty)
        b += s"agg.maxCols=${sh.maxCols.map(enc).mkString(",")}"
      if (sh.avgCols.nonEmpty)
        b += s"agg.avgCols=${sh.avgCols.map(enc).mkString(",")}"
      if (sh.distinctCols.nonEmpty)
        b += s"agg.distinctCols=${sh.distinctCols.map(enc).mkString(",")}"
      sh.where.foreach(w => b += s"agg.where=${enc(w)}")
    }
    d.joinShape.foreach { sh =>
      b += s"join.factDir=${enc(sh.factDir)}"
      b += s"join.dimDir=${enc(sh.dimDir)}"
      b += s"join.joinKey=${enc(sh.joinKey)}"
      b += s"join.groupCols=${sh.groupCols.map(enc).mkString(",")}"
      b += s"join.sumCols=${sh.sumCols.map(enc).mkString(",")}"
    }
    d.snowShape.foreach { sh =>
      b += s"snow.sideDirs=${sh.sideDirs.map(enc).mkString(",")}"
      b += s"snow.joinKeys=${sh.joinKeys.map(enc).mkString(",")}"
      b += s"snow.groupCols=${sh.groupCols.map(enc).mkString(",")}"
      b += s"snow.sumCols=${sh.sumCols.map(enc).mkString(",")}"
    }
    b.toSeq
  }

  private def deserialize(name: String, lines: Seq[String],
                          persistDir: String): MvDef = {
    val kv = lines.filter(_.contains('=')).map { l =>
      val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1) }
    def one(k: String): String = kv.collectFirst {
      case (`k`, v) => v }.getOrElse(
      sys.error(s"corrupt _mv sidecar for '$name': missing $k"))
    def opt(k: String): Option[String] = kv.collectFirst { case (`k`, v) => v }
    def cols(s: String): Seq[String] =
      if (s.isEmpty) Nil else s.split(',').toSeq.map(dec)
    val deps = kv.collect { case ("dep", v) =>
      val i = v.lastIndexOf('|'); dec(v.substring(0, i)) -> v.substring(i + 1).toInt }
    val agg = opt("agg.baseDir").map(bd =>
      AggShape(dec(bd), cols(one("agg.groupCols")), cols(one("agg.sumCols")),
        opt("agg.minCols").map(cols).getOrElse(Nil),
        opt("agg.maxCols").map(cols).getOrElse(Nil),
        opt("agg.avgCols").map(cols).getOrElse(Nil),
        opt("agg.distinctCols").map(cols).getOrElse(Nil),
        opt("agg.where").map(dec)))
    val join = opt("join.factDir").map(fd =>
      JoinShape(dec(fd), dec(one("join.dimDir")), dec(one("join.joinKey")),
        cols(one("join.groupCols")), cols(one("join.sumCols"))))
    val snow = opt("snow.sideDirs").map(sd =>
      SnowflakeShape(cols(sd), cols(one("snow.joinKeys")),
        cols(one("snow.groupCols")), cols(one("snow.sumCols"))))
    MvDef(name, dec(one("defSql")), dec(one("mvDir")), deps,
      dec(one("fingerprint")), one("outputWidth").toInt, agg, join,
      rootNode = dec(one("rootNode")), persistDir = Some(persistDir),
      // fingerprints are session artifacts: re-derive before first use
      fpVerified = false, snowShape = snow)
  }

  private def gensOf(md: Path, name: String): Seq[Int] =
    Option(md.toFile.listFiles()).toSeq.flatten
      .map(_.getName).filter(_.matches(java.util.regex.Pattern.quote(name) + "\\.g\\d+"))
      .map(_.substring(name.length + 2).toInt).sorted

  private def claim(md: Path, name: String, lines: Seq[String]): Unit = {
    import scala.jdk.CollectionConverters._
    Files.createDirectories(md): Unit
    var attempts = 0
    while (attempts < 64) {
      attempts += 1
      val gen = gensOf(md, name).lastOption.getOrElse(0)
      val tmp = md.resolve(
        s".$name.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      Files.write(tmp, lines.asJava): Unit
      val won =
        try { Files.createLink(md.resolve(s"$name.g${gen + 1}"), tmp); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
        finally Files.deleteIfExists(tmp)
      if (won) {
        // GC by MARKER OVERWRITE, never deletion (4-generation straggler
        // buffer). A DELETED number could be re-CLAIMED: a writer stalled
        // across 5+ mutations still holds the old listing, its createLink
        // SUCCEEDS on the vacated name, it believes it won — while every
        // reader takes max(gen) and silently drops the mutation — the
        // exact lost-update the tag store closed in r12
        // (ManifestTable.mutateTagsIn). A `#gc` placeholder keeps
        // create-no-overwrite refusing FOREVER, so a stale claim gets
        // EEXIST, re-lists, and retries at the true head. The marker
        // lands by ATOMIC RENAME (a straggler reading mid-truncate would
        // otherwise see an empty file); the descending scan stops at the
        // first already-marked generation — markers form a prefix, so
        // each file is written once ever. q422 turns refreshes into
        // per-commit cadence, so this is no longer human-cadence-only.
        gensOf(md, name).filter(_ < gen - 3).sorted(Ordering[Int].reverse)
          .iterator.map(g => md.resolve(s"$name.g$g"))
          .takeWhile(p => !Files.exists(p) ||
            Files.size(p) == 0 || Files.readAllLines(p).asScala
              .headOption.forall(!_.startsWith("#gc")))
          .foreach { p =>
            val mk = md.resolve(
              s".gc.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
            Files.write(mk, java.util.List.of("#gc")): Unit
            Files.move(mk, p,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
          }
        return
      }
    }
    sys.error(s"GraftMaterializedViews: sidecar claim for '$name' lost the " +
      "CAS 64 times — giving up")
  }

  private def persist(dir: String, d: MvDef): Unit =
    claim(Paths.get(dir), d.name, serialize(d))

  private def persistDrop(dir: String, name: String): Unit =
    claim(Paths.get(dir), name, Seq("#dropped"))

  /** Reload every persisted view under `dir` (the warehouse `_mv/`
    * sidecar) into the registry — called by [[GraftCatalog.initialize]].
    * In-memory definitions win (they are what the disk state was written
    * from); fingerprints of newly loaded views are re-derived lazily at
    * first match attempt. */
  def loadFrom(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val md = Paths.get(dir)
    if (!Files.isDirectory(md)) return
    val names = Option(md.toFile.listFiles()).toSeq.flatten
      .map(_.getName).filter(_.matches(".+\\.g\\d+"))
      .map(_.replaceAll("\\.g\\d+$", "")).filterNot(_.startsWith("."))
      .distinct
    names.foreach { name =>
      gensOf(md, name).lastOption.foreach { g =>
        val lines = Files.readAllLines(md.resolve(s"$name.g$g")).asScala.toSeq
        // '#dropped' tombstones; '#gc' can only head a non-latest
        // generation, but skip any marker head defensively — a corrupt
        // sidecar must never take the whole catalog init down
        if (lines.headOption.exists(_.startsWith("#"))) ()
        else {
          val d = deserialize(name, lines, dir)
          val prior = views.putIfAbsent(name, d)
          if (prior == null)
            hitCounters.putIfAbsent(name, new AtomicLong(0L)): Unit
          else if (!prior.persistDir.contains(dir)) {
            // the registry is JVM-global: two warehouses each persisting
            // a same-named view collide on the bare name. BOTH serve
            // (r16) — the loser arms under its QUALIFIED key
            // `<dir>::<name>` (fingerprints keep the rewrites apart, so
            // serving both is always safe); name-keyed verbs reach it by
            // the qualified form, reported by list_mvs
            val qk = s"$dir::$name"
            if (views.putIfAbsent(qk, d.copy(regKey = qk)) == null) {
              hitCounters.putIfAbsent(qk, new AtomicLong(0L)): Unit
              System.err.println(
                s"[graft] WARN: materialized view '$name' from $dir " +
                  s"collides with ${prior.persistDir.getOrElse(
                    "an in-memory registration")} — armed as '$qk'")
            }
          }
        }
      }
    }
  }

  /** Structural identity of an analyzed plan, safe across separately
    * analyzed copies of the same query text: nodes + canonicalized
    * expressions (exprIds normalized), with relations rendered as
    * `identifier @ pinned-version : output schema` — two different
    * tables, two different snapshots, or two different pushable filters
    * all fingerprint apart (fail closed). Only [[GraftSqlTable]]-backed
    * relations can appear at the leaves ([[guardLeaves]]), so every leaf
    * contributes a data identity, never schema alone. */
  private[v2] def fingerprint(plan: LogicalPlan): String = {
    fingerprintCalls.incrementAndGet(): Unit
    val sb = new StringBuilder
    plan.canonicalized.foreach {
      case r: DataSourceV2Relation =>
        val id = r.identifier.map(_.toString).getOrElse(r.name)
        val ver = r.table match {
          case t: GraftSqlTable => t.snapshotVersion.toString
          case _ => "?"
        }
        sb.append(s"rel[$id@$ver:")
          .append(r.output.map(a => a.name + ":" + a.dataType.catalogString)
            .mkString(","))
          .append("];"): Unit
      case other =>
        sb.append(other.nodeName).append('[')
          .append(other.expressions.map(_.toString).mkString("|"))
          .append("];"): Unit
    }
    sb.toString
  }
}

/** The rewrite rule — injected post-hoc in the analyzer (after
  * resolution, before the optimizer moves filters into scans), once per
  * query. Matching is bottom-up; a substituted subtree is a plain scan
  * and cannot re-match, so the rule is idempotent by construction.
  * Cost discipline: dependency head versions are listed once per query,
  * and a subtree is fingerprinted only when its output width AND root
  * node name match some armed view — an unrelated query pays a few
  * integer/string compares per node, never O(plan²) serialization. */
case class GraftMvRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import GraftMaterializedViews._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (suppressed || !plan.resolved) return plan
    val verCache = mutable.HashMap.empty[String, Int]
    def ver(d: String): Int =
      verCache.getOrElseUpdate(d, ManifestTable.currentVersion(d))
    val candidates = freshViews(ver)
    if (candidates.isEmpty) return plan
    val fresh = candidates.flatMap(v => ensureFingerprint(spark, v))
    if (fresh.isEmpty) return plan
    val widths = fresh.map(_.outputWidth).toSet
    val roots = fresh.map(_.rootNode).toSet
    val anyRollup = fresh.exists(_.rollup.isDefined)
    plan.transformUp {
      case p if p.resolved && ((widths.contains(p.output.length) &&
          roots.contains(p.nodeName)) ||
          (anyRollup && p.isInstanceOf[Aggregate])) =>
        val exact =
          if (widths.contains(p.output.length) && roots.contains(p.nodeName)) {
            val fp = fingerprint(p)
            fresh.find(v => v.outputWidth == p.output.length &&
              v.fingerprint == fp)
          } else None
        exact match {
          case Some(v) =>
            // a fresh scan per substitution: new attribute ids every
            // time, so the same view serving twice in one query never
            // collides. Suppressed: analyzing the MV scan itself must
            // not re-enter this rule.
            val mv = suppressRewrite(ManifestTable.read(spark, v.mvDir)
              .queryExecution.analyzed)
            require(mv.output.length == p.output.length,
              s"materialized view '${v.name}': stored table width " +
                s"${mv.output.length} != definition width ${p.output.length}")
            recordHit(v.key)
            // preserve the subtree's output attribute ids — parents of
            // the rewritten node keep resolving against them
            Project(p.output.zip(mv.output).map { case (o, n) =>
              Alias(n, o.name)(exprId = o.exprId) }, mv)
          case None => p match {
            case a: Aggregate if anyRollup =>
              tryRollup(a, fresh).orElse(tryExpandRollup(a, fresh)).getOrElse(p)
            case _ => p
          }
        }
    }
  }
  // translate each output expression against a view's stored partials
  // given the shape's join-back side: TrGroup(i) for (a semantic copy
  // of) the i-th grouping expression, TrDerived for a deterministic
  // function OF grouping expressions (constant per query group),
  // TrAgg(build) for a servable aggregate — `build` takes the
  // base→MV attribute remapper, constructed only once a view's child
  // fingerprint matches. None anywhere → this view can't serve.

  private def translate(ri: RollupInfo, gExprs: Seq[Expression],
      dimSet: AttributeSet, e: NamedExpression): Option[Tr] = {
    import org.apache.spark.sql.functions.{coalesce, lit, when, max => fmax, min => fmin, sum => fsum}
    import org.apache.spark.sql.graftbridge.Bridge
    // a reference is servable iff it is a view group key (remaps to
    // the MV's stored key column) or comes from the join-back dim
    // side (kept verbatim — the dim subtree transplants with its ids)
    def refOk(ex: Expression): Boolean = ex.references.forall(r =>
      dimSet.contains(r) || ri.groupMap.contains(r.name))
    val stripped = e match { case Alias(c, _) => c; case other => other }
    val gi = gExprs.indexWhere(_.semanticEquals(stripped))
    if (gi >= 0) return Some(TrGroup(gi))
    stripped match {
      case ae: AggregateExpression =>
        // a FILTER (WHERE p) over keys/dim columns is constant per MV
        // group (and per (group, dim row) pair), so it guards the
        // partial: rows failing p contribute NULL, which
        // sum/min/max/count all skip — exactly the rows the base
        // aggregate would have skipped
        if (!ae.filter.forall(f => f.deterministic && refOk(f))) return None
        def guard(remap: Expression => Expression,
                  partial: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          ae.filter.map(f => when(Bridge.column(remap(f)), partial))
            .getOrElse(partial)
        if (ae.isDistinct) {
          // DISTINCT over key/dim expressions: serve the UNCHANGED
          // aggregate over the MV — the distinct input set is
          // identical (see scaladoc). Confined to the five
          // value-deterministic folds; an order-sensitive collector
          // (collect_list) would expose row order, which the MV does
          // not preserve — fail closed.
          val fnOk = ae.aggregateFunction match {
            case _: Count | _: Sum | _: Min | _: Max | _: Average => true
            case _ => false
          }
          if (fnOk && ae.aggregateFunction.children.forall(c =>
              c.deterministic && refOk(c)))
            Some(TrAgg((remap, _) => Bridge.column(remap(ae))))
          else None
        } else ae.aggregateFunction match {
          case Count(Seq(Literal(1, _))) =>
            // the GLOBAL rollup (no group keys) of an EMPTY view must
            // still answer 0, not sum-over-nothing's NULL
            ri.countCol.map(c => TrAgg((remap, st) =>
              coalesce(fsum(guard(remap, st(c))), lit(0L))))
          case Count(Seq(attr: AttributeReference))
              if ri.cntMap.contains(attr.name) =>
            // count(col) = sum of the stored NON-NULL count partials
            // (cnt_<c>, kept for every sum column since r16)
            ri.cntMap.get(attr.name).map(c => TrAgg((remap, st) =>
              coalesce(fsum(guard(remap, st(c))), lit(0L))))
          case Count(exprs) if ri.countCol.isDefined &&
              exprs.forall(x => x.deterministic && refOk(x)) =>
            // count of ANY deterministic key/dim expression: every MV
            // row stands for `cnt` base rows sharing the expression's
            // value, and count skips a row iff any argument is NULL —
            // the same test, applied once per group instead of once
            // per row
            Some(TrAgg { (remap, st) =>
              val nn = exprs.map(x => Bridge.column(remap(x)).isNotNull)
                .reduce(_ && _)
              coalesce(fsum(when(nn, guard(remap, st(ri.countCol.get)))),
                lit(0L))
            })
          case Average(attr: AttributeReference, _)
              // exact for INTEGRAL inputs: both the direct query and
              // this rollup divide the exact integer sum by the exact
              // non-null count in double arithmetic (Spark's Average
              // accumulates integral input through doubles — exact
              // below 2^53, and the fold pins sum(sum)/sum(cnt)
              // bit-equal to Spark's avg there). DECIMAL avg re-widens
              // scale (p+4/s+4) and float avg is order-dependent in
              // the partials themselves — both fail closed.
              if Seq(org.apache.spark.sql.types.ByteType,
                org.apache.spark.sql.types.ShortType,
                org.apache.spark.sql.types.IntegerType,
                org.apache.spark.sql.types.LongType).contains(attr.dataType) =>
            for {
              sc <- ri.sumMap.get(attr.name)
              cc <- ri.cntMap.get(attr.name)
            } yield TrAgg((remap, st) =>
              when(fsum(guard(remap, st(cc))) > 0,
                fsum(guard(remap, st(sc))).cast("double") /
                  fsum(guard(remap, st(cc))).cast("double")))
          case Sum(attr: AttributeReference, _)
              // a re-summed DECIMAL widens its precision (p+10 again),
              // so the rolled column's type would not match the query's
              // output — fail closed; integral sums are LongType fixed
              // points and float sums are order-nondeterministic in
              // Spark's own partial aggregation already
              if !attr.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] =>
            ri.sumMap.get(attr.name).map(c => TrAgg((remap, st) =>
              fsum(guard(remap, st(c)))))
          // min/max of any deterministic key/dim expression: join-back
          // replication never changes a min/max, and the expression is
          // constant per (group, dim row) — evaluate it directly over
          // MV rows (subsumes min/max of a bare key)
          case Min(x) if x.deterministic && refOk(x) =>
            Some(TrAgg((remap, _) =>
              fmin(guard(remap, Bridge.column(remap(x))))))
          case Max(x) if x.deterministic && refOk(x) =>
            Some(TrAgg((remap, _) =>
              fmax(guard(remap, Bridge.column(remap(x))))))
          case Min(attr: AttributeReference) =>
            ri.minMap.get(attr.name).map(c => TrAgg((remap, st) =>
              fmin(guard(remap, st(c)))))
          case Max(attr: AttributeReference) =>
            ri.maxMap.get(attr.name).map(c => TrAgg((remap, st) =>
              fmax(guard(remap, st(c)))))
          case _ => None
        }
      // NO sketch-derived output is served (estimate OR raw bytes):
      // DataSketches estimates switch HIP → composite on union, so
      // estimate(union of stored partials) ≠ estimate(direct query)
      // in general — merge-structure-dependent numbers
      // (pinned in SketchesSpec). The sketch TABLE is the serving surface for
      // uniques dashboards; the rewrite fails closed here.
      case ex if ex.deterministic && refOk(ex) &&
          !ex.exists(_.isInstanceOf[AggregateExpression]) && {
        // a non-aggregate output that is not itself a grouping
        // expression must be a deterministic FUNCTION of grouping
        // expressions to be constant per query group (`SELECT
        // year(day) … GROUP BY day`). Replace every grouping-expr
        // occurrence top-down and require no free reference survives —
        // the rule runs before CheckAnalysis, so this also refuses
        // plans CheckAnalysis is about to reject.
        ex.transform {
          case sub if gExprs.exists(_.semanticEquals(sub)) => Literal(0)
        }.references.isEmpty && gExprs.nonEmpty
      } => Some(TrDerived(ex))
      case _ => None
    }
  }


  /** ROLLUP containment rewrite: a query that aggregates the SAME base
    * subtree (child fingerprints equal — same relations at the same
    * pinned versions, same pre-aggregation shape) by a SUBSET of a
    * fresh view's group keys — or by any DETERMINISTIC EXPRESSION over
    * them (the r15 time-hierarchy containment: `month(day)`,
    * `date_trunc('quarter', day)`, `year(day)` over a day-grain view) —
    * re-aggregates the O(|groups|) MV instead of the base: count(*) →
    * sum(count partial), count(col) → sum(cnt_col partial), sum → sum
    * of sums, min → min of mins, max → max of maxes, integral avg(col)
    * → sum(sum_col)/sum(cnt_col) (exact — the same double division
    * Spark's Average performs on integral input). A deterministic WHERE
    * between the aggregate and the base transfers to the MV rows
    * verbatim when it references ONLY view group keys (every key is
    * constant within an MV group, so filtering groups ≡ filtering
    * rows).
    *
    * Three containment extensions (r16):
    *
    *  - **DISTINCT over key expressions**: the MV holds EXACTLY one row
    *    per distinct group-key combination, so the distinct input set
    *    of any deterministic expression over keys is IDENTICAL over MV
    *    rows and base rows — count/sum/min/max/avg(DISTINCT e) serve as
    *    the UNCHANGED aggregate evaluated over the MV ("distinct active
    *    days per month" from a (day, type) view, exactly — the EXACT
    *    complement of the q425/q426 sketch path, which covers distinct
    *    of NON-key columns). No type restriction: the same operator
    *    runs over the same value set, so even DECIMAL sum(DISTINCT) is
    *    bit-identical.
    *  - **FILTER clauses over keys**: `agg(x) FILTER (WHERE p)` with p
    *    deterministic over view keys is constant per MV group, so p
    *    guards the partial — `sum(when(p, partial))` folds exactly the
    *    groups whose rows the base aggregate would have kept (the pivot
    *    dashboard: one pass, N conditional columns).
    *  - **JOIN-BACK**: `Aggregate(fact ⋈ d1 ⋈ … ⋈ dn)` grouped by dim
    *    attributes serves from `MV ⋈ d1 ⋈ … ⋈ dn` when every join in
    *    the flattened tree is INNER with a deterministic condition
    *    whose fact-side references are confined to view keys (the
    *    star AND the snowflake chain — a dim-to-dim condition is
    *    allowed outright): the match set is decided per (key combo,
    *    dim-row tuple), so the joins replicate every MV group exactly
    *    as they replicate that group's base rows. count(*) folds the
    *    count partial across the replication; sum/count/avg of fact
    *    columns fold their partials; min/max and DISTINCT aggregates
    *    of any key/dim expression evaluate directly (replication never
    *    changes a min, a max, or a distinct set). Dim subtrees
    *    transplant VERBATIM (same attribute ids), read at whatever
    *    version the query itself planned. Aggregates that WEIGH dim
    *    columns by fact multiplicity (sum/avg of a dim column) fail
    *    closed.
    *
    * Anything the stored partials cannot reproduce exactly —
    * DISTINCT/FILTER over non-key columns, DECIMAL sums/avgs
    * (re-widened types), float avg, count/avg of columns without a
    * stored cnt partial, non-deterministic expressions anywhere, outer
    * joins — fails closed to the base. */
  private def tryRollup(a: Aggregate, fresh: Seq[MvDef]): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftbridge.Bridge
    val gExprs = a.groupingExpressions
    if (!gExprs.forall(_.deterministic)) return None
    val byRollup = fresh.flatMap(v => v.rollup.map(ri => (v, ri)))
    if (byRollup.isEmpty) return None

    // candidate shapes, UNPEELED first: a FILTERED view's child
    // fingerprint INCLUDES its Filter, so a query repeating the view's
    // WHERE (at any contained grain) matches the unpeeled child with
    // nothing to transfer; the peeled shape then covers the unfiltered
    // view + group-key-WHERE transfer; the join shapes cover the
    // join-back (with or without a transferred WHERE above the join). A
    // query WHERE that only EXTENDS a filtered view's predicate fails
    // closed (neither fingerprint matches).
    // A join shape carries the OTHER leaves of the flattened inner-join
    // tree plus every join condition; one Shape is generated per leaf,
    // each trying that leaf as the view-backed side
    final case class Shape(cond: Option[Expression], child: LogicalPlan,
                           dims: Seq[LogicalPlan],
                           joinConds: Seq[Expression])
    // `FROM a JOIN b USING (k)` analyzes as Project(attrs, Join) — the
    // Project only forwards attributes (ids intact), so it is
    // transparent to the join-back reconstruction, which re-references
    // those attributes directly over MV ⋈ dims
    def unwrap(p: LogicalPlan): LogicalPlan = p match {
      case Project(pl, ch) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        unwrap(ch)
      case other => other
    }
    // flatten a tree of INNER joins with deterministic conditions —
    // the multi-dimension star/snowflake shape — and enumerate EVERY
    // node of the tree as a candidate view-backed side: a leaf covers
    // the fact-only view, an internal node covers a JOIN-DEFINED view
    // (registerJoinAgg / snowflake) that a query extends with further
    // dims. Each candidate keeps the leaves outside its subtree as
    // transplanted dims and the conditions outside its subtree as the
    // join conditions to rebuild. Anything non-inner/non-deterministic
    // stays an opaque leaf: verbatim on the dim side, fingerprint-
    // mismatched if it would be the fact.
    def joinShapes(c: Option[Expression], p: LogicalPlan): Seq[Shape] = {
      // per node: (subtree AS WRITTEN — Project wrappers intact, so a
      // USING-join view's childFp matches —, leaves under it, conds
      // under it)
      val nodes = mutable.Buffer.empty[(LogicalPlan, Seq[LogicalPlan], Seq[Expression])]
      def walk(q: LogicalPlan): (Seq[LogicalPlan], Seq[Expression]) = {
        val res = unwrap(q) match {
          case Join(l, r, Inner, Some(jc), _) if jc.deterministic =>
            val (ll, lc) = walk(l); val (rl, rc) = walk(r)
            (ll ++ rl, lc ++ rc :+ jc)
          case other => (Seq(other), Nil)
        }
        nodes += ((q, res._1, res._2))
        res
      }
      val (allLeaves, allConds) = walk(p)
      // 2..6 leaves: a single leaf is not a join; beyond 6 the shape
      // count × per-shape checks stop being the cheap pre-filter they
      // must be
      if (allLeaves.size < 2 || allLeaves.size > 6) Nil
      else nodes.toSeq.flatMap { case (sub, under, condsUnder) =>
        val dims = allLeaves.filterNot(l => under.exists(_ eq l))
        // dims empty = the root: the plain (non-join) shapes cover it
        if (dims.isEmpty) Nil
        else {
          val conds = allConds.filterNot(cd => condsUnder.exists(_ eq cd))
          // a leaf candidate is matched both as written and unwrapped
          // (a bare-attribute Project above a leaf is not part of any
          // view definition's child)
          val u = unwrap(sub)
          val children = if (u eq sub) Seq(sub) else Seq(sub, u)
          children.map(ch => Shape(c, ch, dims, conds))
        }
      }
    }
    val shapes = Shape(None, a.child, Nil, Nil) +: (a.child match {
      case Filter(c, ch) if c.deterministic =>
        Shape(Some(c), ch, Nil, Nil) +: joinShapes(Some(c), ch)
      case other => joinShapes(None, other)
    })

    // COST PRE-FILTER: every check here is a name-set compare or a
    // local expression match — an aggregate query unrelated to any
    // armed view must be rejected BEFORE the O(subtree) child
    // serialization below (the exact-match path's (width, root)
    // discipline, on the rollup path)
    shapes.iterator.flatMap { shape =>
      val dimSet = AttributeSet(shape.dims.flatMap(_.output))
      def refOk(ri: RollupInfo, ex: Expression): Boolean =
        ex.references.forall(r => dimSet.contains(r) || ri.groupMap.contains(r.name))
      val byName = byRollup.filter { case (_, ri) =>
        gExprs.forall(refOk(ri, _)) && shape.cond.forall(refOk(ri, _)) &&
          shape.joinConds.forall(refOk(ri, _)) &&
          a.aggregateExpressions.forall(e => translate(ri, gExprs, dimSet, e).isDefined)
      }
      if (byName.isEmpty) Iterator.empty
      else {
        val childFp = fingerprint(shape.child)
        byName.iterator.flatMap { case (v, ri) =>
          if (ri.childFp != childFp) None
          else {
            val items = a.aggregateExpressions.map(e =>
              translate(ri, gExprs, dimSet, e).get)
            // the whole rolled-plan construction analyzes MV-dir-backed
            // plans — suppressed like the exact-match substitution, so the
            // rule never re-enters itself mid-rewrite
            suppressRewrite {
              val mv0 = ManifestTable.read(spark, v.mvDir)
              val mvPlan = mv0.queryExecution.analyzed
              val outByName = mvPlan.output.map(o => o.name -> o).toMap
              // re-target base-side references at the MV's stored keys;
              // join-back dim references keep their original attributes
              // (the dim subtree transplants verbatim, ids intact)
              def remap(ex: Expression): Expression = ex.transform {
                case ar: AttributeReference if !dimSet.contains(ar) =>
                  outByName(ri.groupMap(ar.name))
              }
              // greedy join rebuild, MV first: attach at each step a
              // leaf that some pending condition connects to the frame
              // built so far (the original tree is connected, so fact-
              // first traversal always finds one); every condition
              // lands on the FIRST join where all its references are in
              // scope. Inner-join algebra is associative/commutative
              // over the same conjunction set, so this reproduces the
              // original multiset with the delta-sized MV as the
              // build-out spine.
              var planned: LogicalPlan = mvPlan
              if (shape.dims.nonEmpty) {
                val pendingLeaves = mutable.Buffer(shape.dims: _*)
                val pendingConds = mutable.Buffer(shape.joinConds.map(remap): _*)
                var avail = AttributeSet(mvPlan.output)
                while (pendingLeaves.nonEmpty) {
                  val i = {
                    val c = pendingLeaves.indexWhere(l => pendingConds.exists(
                      _.references.subsetOf(avail ++ l.outputSet)))
                    if (c >= 0) c else 0
                  }
                  val leaf = pendingLeaves.remove(i)
                  avail = avail ++ leaf.outputSet
                  val usable = pendingConds.filter(
                    _.references.subsetOf(avail)).toSeq
                  pendingConds --= usable
                  planned = Join(planned, leaf, Inner,
                    usable.reduceOption(org.apache.spark.sql.catalyst
                      .expressions.And), JoinHint.NONE)
                }
                // a condition whose references span leaves joined
                // earlier cannot remain: every condition attaches at
                // the first join closing over its references
                pendingConds.foreach(c => planned = Filter(c, planned))
              }
              // the group-key (or key+dim) WHERE transfers to the MV rows
              shape.cond.foreach(c => planned = Filter(remap(c), planned))
              val mv = Bridge.ofRows(mv0, planned)
              val aggCols = items.zipWithIndex.collect {
                case (TrAgg(b), i) =>
                  b(remap, c => Bridge.column(outByName(c))).as(s"_r$i") }
              val gCols = gExprs.zipWithIndex.map { case (ge, i) =>
                Bridge.column(remap(ge)).as(s"_g$i") }
              // a group-cols-only query (the DISTINCT shape) has no
              // aggregates — it's the distinct of the remapped group exprs
              val rolled =
                if (aggCols.isEmpty) mv.select(gCols: _*).distinct()
                else mv.groupBy(gCols: _*).agg(aggCols.head, aggCols.tail: _*)
              // restore the query's output ORDER (group keys may sit
              // anywhere among the aggregates); a derived output
              // re-computes from the _g columns it is a function of
              val ordered = rolled.select(items.zipWithIndex.map {
                case (TrGroup(g), _) => col(s"_g$g")
                case (TrDerived(ex), _) => Bridge.column(ex.transform {
                  case sub if gExprs.exists(_.semanticEquals(sub)) =>
                    Bridge.expression(
                      col(s"_g${gExprs.indexWhere(_.semanticEquals(sub))}"))
                })
                case (TrAgg(_), i) => col(s"_r$i")
              }: _*).queryExecution.analyzed
              // defensive: the rolled output must TYPE-match the query's
              // (it does by construction; a slip here fails closed — the
              // base computes the answer — never serves a changed type)
              if (ordered.output.map(_.dataType) != a.output.map(_.dataType))
                None
              else {
                recordHit(v.key)
                // restore the query's attribute ids — parents of the
                // rewritten node keep resolving against them
                Some(Project(a.output.zip(ordered.output).map { case (o, n) =>
                  Alias(n, o.name)(exprId = o.exprId) }, ordered))
              }
            }
          }
        }
      }
    }.nextOption()
  }

  /** GROUPING-SETS containment (r16): `GROUP BY ROLLUP/CUBE/GROUPING
    * SETS` analyzes as `Aggregate(copies + spark_grouping_id,
    * Expand(one projection per set, Project(key duplications, child)))`.
    * When `child` fingerprints as a fresh view's child, the same Expand
    * replays over the MV: each MV row (a group with its partials)
    * replicates once per grouping set with the SAME null/copy pattern,
    * and aggregating by (copies, gid) merges MV groups into each cell
    * exactly as the base merges rows — count(*) folds the count
    * partial, sum/count/avg of measures fold their partials, min/max
    * and DISTINCT of key expressions evaluate directly. The BI cube
    * that re-scans the fact once per dashboard render becomes
    * |sets| × |groups| MV replicas. v1 scope: grouping expressions must
    * be bare Expand-output attributes and aggregate arguments must bind
    * to base-child attributes (never the per-set nulled copies — a
    * copy-bound aggregate is a different number per set); grouping()/
    * grouping_id() projections of the gid and copy-bound aggregates
    * fail closed to the base. */
  private def tryExpandRollup(a: Aggregate, fresh: Seq[MvDef]): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftbridge.Bridge
    val byRollup = fresh.flatMap(v => v.rollup.map(ri => (v, ri)))
    if (byRollup.isEmpty) return None
    a.child match {
      case ex0: Expand =>
        val (child, aliasSrc) = ex0.child match {
          case Project(pl, ch) if pl.forall {
              case _: AttributeReference => true
              case Alias(_: AttributeReference, _) => true
              case _ => false } =>
            (ch, pl.collect { case al @ Alias(src: AttributeReference, _) =>
              al.exprId -> src }.toMap)
          case _ => return None
        }
        val childSet = child.outputSet
        // resolve a projection-entry attribute to the child attr it copies
        def toChild(ar: AttributeReference): Option[AttributeReference] =
          if (childSet.contains(ar)) Some(ar) else aliasSrc.get(ar.exprId)
        val gExprs = a.groupingExpressions
        val outIdx = ex0.output.map(_.exprId).zipWithIndex.toMap
        // every grouping expression must be a bare Expand-output
        // attribute that is NOT a passthrough of the child (i.e. a
        // copy or the grouping id)
        val gPosOpt: Seq[Option[Int]] = gExprs.map {
          case ar: AttributeReference if outIdx.contains(ar.exprId) &&
              !childSet.contains(ar) => Some(outIdx(ar.exprId))
          case _ => None
        }
        if (gPosOpt.exists(_.isEmpty)) return None
        val gPos = gPosOpt.map(_.get)
        // aggregates must bind to child attrs; non-aggregate outputs
        // must be (copies of) grouping attrs — all name-level checks,
        // before any fingerprinting
        val aggOk = a.aggregateExpressions.forall { e =>
          val stripped = e match { case Alias(c, _) => c; case o => o }
          if (gExprs.exists(_.semanticEquals(stripped))) true
          else stripped match {
            case ae: AggregateExpression =>
              ae.references.forall(childSet.contains)
            case _ => false
          }
        }
        if (!aggOk) return None
        val entriesOk = ex0.projections.forall { row =>
          gPos.forall(j => row(j) match {
            case _: Literal => true
            case ar: AttributeReference => toChild(ar).isDefined
            case _ => false })
        }
        if (!entriesOk) return None
        val byName = byRollup.filter { case (_, ri) =>
          ex0.projections.forall(row => gPos.forall(j => row(j) match {
            case ar: AttributeReference =>
              toChild(ar).exists(c => ri.groupMap.contains(c.name))
            case _ => true })) &&
            a.aggregateExpressions.forall(e =>
              translate(ri, gExprs, AttributeSet.empty, e).isDefined)
        }
        if (byName.isEmpty) return None
        val childFp = fingerprint(child)
        byName.iterator.flatMap { case (v, ri) =>
          if (ri.childFp != childFp) None
          else suppressRewrite {
            val mv0 = ManifestTable.read(spark, v.mvDir)
            val mvPlan = mv0.queryExecution.analyzed
            val outByName = mvPlan.output.map(o => o.name -> o).toMap
            def remap(ex: org.apache.spark.sql.catalyst.expressions.Expression)
                : org.apache.spark.sql.catalyst.expressions.Expression =
              ex.transform {
                case ar: AttributeReference => outByName(ri.groupMap(ar.name))
              }
            // fresh attrs for the copies/gid, one per grouping position,
            // nullable (rolled-up sets null their keys)
            val newG = gPos.map { j =>
              val o = ex0.output(j)
              AttributeReference(o.name, o.dataType, nullable = true)()
            }
            val projections = ex0.projections.map { row =>
              mvPlan.output ++ gPos.map(j => row(j) match {
                case l: Literal => l
                case ar: AttributeReference =>
                  outByName(ri.groupMap(toChild(ar).get.name))
              })
            }
            val expand = Expand(projections, mvPlan.output ++ newG, mvPlan)
            val frame = Bridge.ofRows(mv0, expand)
            val items = a.aggregateExpressions.map(e =>
              translate(ri, gExprs, AttributeSet.empty, e).get)
            val aggCols = items.zipWithIndex.collect {
              case (TrAgg(b), i) =>
                b(remap, c => Bridge.column(outByName(c))).as(s"_r$i") }
            val gCols = newG.zipWithIndex.map { case (ng, i) =>
              Bridge.column(ng).as(s"_g$i") }
            val rolled =
              if (aggCols.isEmpty) frame.select(gCols: _*).distinct()
              else frame.groupBy(gCols: _*).agg(aggCols.head, aggCols.tail: _*)
            val ordered = rolled.select(items.zipWithIndex.map {
              case (TrGroup(g), _) => col(s"_g$g")
              case (TrDerived(ex2), _) => Bridge.column(ex2.transform {
                case sub if gExprs.exists(_.semanticEquals(sub)) =>
                  Bridge.expression(
                    col(s"_g${gExprs.indexWhere(_.semanticEquals(sub))}"))
              })
              case (TrAgg(_), i) => col(s"_r$i")
            }: _*).queryExecution.analyzed
            if (ordered.output.map(_.dataType) != a.output.map(_.dataType))
              None
            else {
              recordHit(v.key)
              Some(Project(a.output.zip(ordered.output).map { case (o, n) =>
                Alias(n, o.name)(exprId = o.exprId) }, ordered))
            }
          }
        }.nextOption()
      case _ => None
    }
  }
}
