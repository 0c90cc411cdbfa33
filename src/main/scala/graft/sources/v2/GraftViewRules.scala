package graft.sources.v2

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchViewException, UnresolvedIdentifier, UnresolvedNamespace, UnresolvedRelation, UnresolvedSubqueryColumnAliases}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{Identifier, ViewInfo}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.StructType

/** SQL VIEW support for [[GraftCatalog]], wired through
  * `SparkSessionExtensions`. Spark 4.1 ships the `ViewCatalog` SPI but
  * NO engine integration — nothing in the analyzer calls `loadView`,
  * and `ResolveSessionCatalog` hard-refuses view DDL aimed at a non-
  * session catalog (`MISSING_CATALOG_ABILITY.VIEWS`). The integration
  * is the connector's job (Iceberg ships the same machinery), and it
  * lives here as ONE substitution rule:
  *
  *  - **view DDL** (`CREATE [OR REPLACE] VIEW`, `DROP VIEW`,
  *    `SHOW VIEWS`, `ALTER VIEW SET/UNSET TBLPROPERTIES`,
  *    `ALTER VIEW RENAME`, `SHOW TBLPROPERTIES <view>`) rewrites to
  *    runnable commands against [[GraftViews]] BEFORE the session-
  *    catalog rule can refuse — the Substitution batch runs first;
  *  - **view READS** expand inline: an `UnresolvedRelation` naming a
  *    stored view becomes the PARSED stored SQL, with relative table
  *    names qualified by the view's captured catalog+namespace context
  *    (definer semantics — the view means the same thing from any
  *    session), nested views expanded recursively (cycles refuse
  *    loudly), and declared column aliases applied positionally.
  *
  * Because the expansion happens before resolution, the reading query
  * plans AS IF the user had written the view body: manifest file
  * pruning, aggregate pushdown, DPP, SPJ all apply to the expansion.
  * A view costs exactly what its query costs — nothing materializes,
  * nothing goes stale. */
case class GraftViewRules(spark: SparkSession) extends Rule[LogicalPlan] {

  private def catalogOf(name: String): Option[GraftCatalog] =
    try spark.sessionState.catalogManager.catalog(name) match {
      case g: GraftCatalog => Some(g)
      case _ => None
    } catch { case _: Exception => None }

  /** Multipart name → (catalog, identifier) when it names a graft
    * catalog explicitly, or implicitly through the session's current
    * catalog. Temp views take precedence on bare names, per Spark's
    * own resolution order. */
  private def resolve(parts: Seq[String]): Option[(GraftCatalog, Identifier)] =
    parts match {
      case Seq(n) if spark.sessionState.catalog.isTempView(Seq(n)) => None
      case Seq(cat, rest @ _*) if rest.nonEmpty && catalogOf(cat).isDefined =>
        catalogOf(cat).map(g =>
          (g, Identifier.of(rest.init.toArray, rest.last)))
      case _ =>
        val cm = spark.sessionState.catalogManager
        cm.currentCatalog match {
          case g: GraftCatalog if parts.nonEmpty =>
            val ns = if (parts.length > 1) parts.init.toArray else cm.currentNamespace
            Some((g, Identifier.of(ns, parts.last)))
          case _ => None
        }
    }

  private def isGraftView(parts: Seq[String]): Boolean =
    resolve(parts).exists { case (g, id) => g.viewExists(id) }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // names bound by a WITH clause anywhere in the statement shadow
    // same-named views on bare references (conservative across scopes)
    val cteNames: Set[String] = plan.collect {
      case w: UnresolvedWith => w.cteRelations.map(_._1.toLowerCase)
    }.flatten.toSet
    plan.resolveOperatorsUp {
      // ---- reads: expand a referenced view into its parsed definition
      case UnresolvedRelation(parts, _, false)
          if !(parts.length == 1 && cteNames.contains(parts.head.toLowerCase)) &&
            isGraftView(parts) =>
        val (g, id) = resolve(parts).get
        expand(g, id, Set.empty)

      // ---- DDL
      case c: CreateView =>
        c.child match {
          case UnresolvedIdentifier(parts, _) if resolve(parts).isDefined =>
            val (g, id) = resolve(parts).get
            val sql = c.originalText.getOrElse(throw new IllegalArgumentException(
              "GraftCatalog: CREATE VIEW requires the literal query text"))
            GraftCreateViewCommand(g, id, sql,
              c.userSpecifiedColumns, c.comment, c.properties,
              allowExisting = c.allowExisting, replace = c.replace)
          case _ => c
        }
      case DropView(UnresolvedIdentifier(parts, _), ifExists)
          if resolve(parts).isDefined =>
        val (g, id) = resolve(parts).get
        GraftDropViewCommand(g, id, ifExists)
      case ShowViews(ns: UnresolvedNamespace, pattern, output)
          if ns.multipartIdentifier.headOption.exists(catalogOf(_).isDefined) =>
        val parts = ns.multipartIdentifier
        GraftShowViewsCommand(catalogOf(parts.head).get, parts.tail, pattern, output)
      // ALTER VIEW SET/UNSET arrive with an UnresolvedView child, RENAME
      // and SHOW TBLPROPERTIES with UnresolvedTableOrView — match all of
      // them by name parts rather than by those classes' shapes
      case s: SetViewProperties if nameOf(s.child).exists(isGraftView) =>
        val (g, id) = resolve(nameOf(s.child).get).get
        GraftAlterViewPropsCommand(g, id,
          s.properties.toSeq.map { case (k, v) => k -> Some(v) })
      case u: UnsetViewProperties if nameOf(u.child).exists(isGraftView) =>
        val (g, id) = resolve(nameOf(u.child).get).get
        GraftAlterViewPropsCommand(g, id, u.propertyKeys.map(_ -> None))
      case r: RenameTable
          if r.isView && nameOf(r.child).exists(isGraftView) =>
        val (g, id) = resolve(nameOf(r.child).get).get
        // ALTER VIEW a.b.v RENAME TO [a.]b2.v2 — stay within the catalog
        val toParts = if (r.newName.headOption.exists(catalogOf(_).isDefined))
          r.newName.tail else r.newName
        val to = if (toParts.length > 1)
          Identifier.of(toParts.init.toArray, toParts.last)
        else Identifier.of(id.namespace(), toParts.last)
        GraftRenameViewCommand(g, id, to)
      case sp: ShowTableProperties if nameOf(sp.child).exists(isGraftView) =>
        val (g, id) = resolve(nameOf(sp.child).get).get
        GraftShowViewPropsCommand(g, id, sp.propertyKey, sp.output)
    }
  }

  private def nameOf(p: LogicalPlan): Option[Seq[String]] = p match {
    case UnresolvedIdentifier(parts, _) => Some(parts)
    case o => o.getClass.getMethods.find(m =>
      m.getName == "multipartIdentifier" && m.getParameterCount == 0)
      .map(_.invoke(o).asInstanceOf[Seq[String]])
  }

  /** The stored definition, parsed and made context-free: relative
    * names qualify with the view's captured catalog+namespace (CTE
    * names excepted — they bind locally), nested graft views expand
    * recursively with a seen-set so a cycle fails loudly instead of
    * looping the analyzer. */
  private def expand(g: GraftCatalog, id: Identifier,
                     seen: Set[String]): LogicalPlan = {
    val key = s"${g.name()}.${(id.namespace() :+ id.name()).mkString(".")}"
    if (seen.contains(key)) throw new IllegalStateException(
      s"GraftCatalog: recursive view reference — $key refers to itself " +
        s"through ${seen.mkString(" -> ")}")
    val v = g.loadView(id)
    val parsed = spark.sessionState.sqlParser.parsePlan(v.query())
    val cteNames: Set[String] = parsed.collect {
      case w: UnresolvedWith => w.cteRelations.map(_._1.toLowerCase)
    }.flatten.toSet
    val ctx: Seq[String] = v.currentCatalog() +: v.currentNamespace().toSeq
    val qualified = parsed.resolveOperatorsUp {
      case rel @ UnresolvedRelation(parts, _, false) =>
        val full: Seq[String] =
          if (parts.length == 1 && !cteNames.contains(parts.head.toLowerCase))
            ctx ++ parts
          else if (parts.length == 2) ctx.headOption.toSeq ++ parts
          else parts
        resolve(full) match {
          case Some((g2, id2)) if g2.viewExists(id2) => expand(g2, id2, seen + key)
          case _ if full != parts => rel.copy(multipartIdentifier = full)
          case _ => rel
        }
    }
    val aliased =
      if (v.columnAliases().nonEmpty)
        UnresolvedSubqueryColumnAliases(v.columnAliases().toSeq, qualified)
      else qualified
    SubqueryAlias(id.name(), aliased)
  }
}

/** CREATE [OR REPLACE] VIEW — analyzes the query text NOW (capturing
  * schema + output column names) and stores the definition with the
  * session's current catalog/namespace so later readers expand it with
  * definer semantics. */
case class GraftCreateViewCommand(catalog: GraftCatalog, ident: Identifier,
                                  sql: String,
                                  userCols: Seq[(String, Option[String])],
                                  comment: Option[String],
                                  props: Map[String, String],
                                  allowExisting: Boolean, replace: Boolean)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val exists = catalog.viewExists(ident)
    if (exists && allowExisting) return Seq.empty
    if (exists && !replace) throw new org.apache.spark.sql.catalyst.analysis
      .ViewAlreadyExistsException(ident)
    val analyzed = spark.sessionState.executePlan(
      spark.sessionState.sqlParser.parsePlan(sql)).analyzed
    val qcols = analyzed.output.map(_.name)
    require(userCols.isEmpty || userCols.length == qcols.length,
      s"GraftCatalog: CREATE VIEW declares ${userCols.length} columns but " +
        s"the query produces ${qcols.length}")
    val aliases = userCols.map(_._1)
    val comments = userCols.map(_._2.orNull)
    val schema = StructType(analyzed.schema.fields.zipWithIndex.map {
      case (f, i) => if (aliases.nonEmpty) f.copy(name = aliases(i)) else f
    })
    val cm = spark.sessionState.catalogManager
    val allProps = props ++ comment.map("comment" -> _)
    if (exists) catalog.dropView(ident): Unit
    catalog.createView(new ViewInfo(ident, sql, cm.currentCatalog.name(),
      cm.currentNamespace, schema, qcols.toArray, aliases.toArray,
      comments.toArray, allProps.asJava)): Unit
    Seq.empty
  }
}

case class GraftDropViewCommand(catalog: GraftCatalog, ident: Identifier,
                                ifExists: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (!catalog.dropView(ident) && !ifExists)
      throw new NoSuchViewException(ident)
    Seq.empty
  }
}

case class GraftShowViewsCommand(catalog: GraftCatalog, namespace: Seq[String],
                                 pattern: Option[String],
                                 override val output: Seq[Attribute])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val names = catalog.listViews(namespace: _*).map(_.name()).sorted.toSeq
    val kept = pattern match {
      case Some(p) =>
        val rx = p.toLowerCase.split('|').map(_.trim.replace("*", ".*"))
        names.filter(n => rx.exists(n.toLowerCase.matches))
      case None => names
    }
    kept.map(n => Row(namespace.mkString("."), n, false))
  }
}

case class GraftAlterViewPropsCommand(catalog: GraftCatalog, ident: Identifier,
                                      changes: Seq[(String, Option[String])])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.connector.catalog.ViewChange
    catalog.alterView(ident, changes.map {
      case (k, Some(v)) => ViewChange.setProperty(k, v)
      case (k, None)    => ViewChange.removeProperty(k)
    }: _*): Unit
    Seq.empty
  }
}

case class GraftRenameViewCommand(catalog: GraftCatalog, from: Identifier,
                                  to: Identifier) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    catalog.renameView(from, to)
    Seq.empty
  }
}

case class GraftShowViewPropsCommand(catalog: GraftCatalog, ident: Identifier,
                                     key: Option[String],
                                     override val output: Seq[Attribute])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val props = catalog.loadView(ident).properties().asScala
    key match {
      case Some(k) => Seq(Row(k, props.getOrElse(k,
        s"View ${ident.name()} does not have property: $k")))
      case None => props.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
    }
  }
}
