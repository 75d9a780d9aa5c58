package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedIdentifier, UnresolvedNamespace, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.analysis.RelationTimeTravel
import org.apache.spark.sql.catalyst.plans.logical.{AlterViewAs, CreateView, DropView, LogicalPlan, ShowViews, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{Identifier, ViewCatalog}
import org.apache.spark.sql.graft.{GraftAlterViewAsCommand, GraftCreateViewCommand, GraftDropViewCommand, GraftShowViewsCommand}
import org.apache.spark.sql.types.{DataType, StructType}

/** PERSISTED SQL VIEWS against the graft warehouse catalog — the
  * Trino-view / dbt `materialized=view` serve surface (the reference's
  * `stg_trades.sql` staging model IS one). Spark 4.1 ships the DSv2
  * `ViewCatalog` API but its analyzer neither routes view DDL to it
  * (non-session catalogs get `MISSING_CATALOG_ABILITY.VIEWS` before
  * any extension rule runs) nor resolves SELECTs through it — so, the
  * Iceberg-extensions precedent, graft wires both halves itself:
  *
  *  - [[GraftViewParser]] (injectParser) reroutes parsed
  *    `CREATE/DROP/SHOW VIEW` nodes whose identifier names a
  *    graft-catalog (config-recognized — no catalog instantiation at
  *    parse time) to eager commands over the `ViewCatalog` API.
  *  - [[GraftViewResolutionRule]] (injectResolutionRule) substitutes a
  *    still-unresolved relation that names a stored view with its
  *    parsed definition — single-part table names inside the
  *    definition re-qualify under the view's STORED
  *    currentCatalog/currentNamespace (late-binding views, the
  *    context-capture rule every view engine applies), column aliases
  *    project over the stored output names, and nested views resolve
  *    through the same fixed point. */
object GraftViews {

  /** Is `name` configured as a graft catalog with persisted views —
    * the warehouse catalog or the governed catalog? Parse-time check
    * by CONFIG — instantiating catalogs while parsing would be both
    * costly and order-sensitive. */
  def isGraftCatalog(session: SparkSession, name: String): Boolean =
    session.conf.getOption(s"spark.sql.catalog.$name").exists(classNames)

  /** The catalog class and its governed subclass, by name. */
  private val classNames =
    Set(classOf[GraftSqlCatalog].getName, classOf[GraftGovernedCatalog].getName)
}

class GraftViewParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  /** Does `name` address something that is NOT this session's current
    * graft catalog — another registered catalog, the session catalog,
    * or the global-temp database? Such identifiers must fall through
    * to Spark untouched even when the current catalog is graft. */
  private def foreignHead(name: String): Boolean =
    name == "spark_catalog" ||
      name == session.conf.get("spark.sql.globalTempDatabase",
        "global_temp") ||
      session.conf.getOption(s"spark.sql.catalog.$name").isDefined

  /** Resolve a view identifier's (catalog, namespace, name) the way
    * the analyzer would: an explicit leading graft-catalog name wins;
    * otherwise a session whose CURRENT catalog is a graft catalog
    * claims the identifier (filling the current namespace for
    * single-part names) — EXCEPT identifiers addressing another
    * catalog/global-temp, or a name bound to a TEMP view (temp views
    * shadow persisted ones, the Spark rule). None = not ours. */
  private def viewTarget(parts: Seq[String])
      : Option[(String, Seq[String], String)] = {
    if (parts.length >= 2 && GraftViews.isGraftCatalog(session, parts.head))
      return Some((parts.head, parts.tail.init, parts.last))
    if (parts.length >= 2 && foreignHead(parts.head)) return None
    val cm = session.sessionState.catalogManager
    val cur = cm.currentCatalog.name()
    if (!GraftViews.isGraftCatalog(session, cur)) return None
    if (parts.length == 1 &&
        session.sessionState.catalog.getTempView(parts.head).isDefined)
      return None
    val ns = if (parts.length == 1) cm.currentNamespace.toSeq
             else parts.init
    Some((cur, ns, parts.last))
  }

  private def nsTarget(parts: Seq[String]): Option[(String, Seq[String])] = {
    if (parts.nonEmpty && GraftViews.isGraftCatalog(session, parts.head))
      return Some((parts.head, parts.tail))
    if (parts.nonEmpty && foreignHead(parts.head)) return None
    val cm = session.sessionState.catalogManager
    val cur = cm.currentCatalog.name()
    if (!GraftViews.isGraftCatalog(session, cur)) return None
    Some((cur, if (parts.isEmpty) cm.currentNamespace.toSeq else parts))
  }

  override def parsePlan(sqlText: String): LogicalPlan =
    delegate.parsePlan(sqlText) match {
      case cv @ CreateView(UnresolvedIdentifier(parts, _), cols, _, _, _,
          originalText, _, allowExisting, replace, _) =>
        viewTarget(parts) match {
          case Some((cat, ns, name)) =>
            require(originalText.isDefined,
              "CREATE VIEW over a graft catalog needs the query text")
            require(cols.forall(_._2.isEmpty) || cols.isEmpty,
              "view column comments are not supported here")
            GraftCreateViewCommand(cat, ns, name,
              originalText.get, cols.map(_._1),
              allowExisting = allowExisting && !replace, replace = replace)
          case None => cv
        }
      case dv @ DropView(UnresolvedIdentifier(parts, _), ifExists) =>
        viewTarget(parts) match {
          case Some((cat, ns, name)) =>
            GraftDropViewCommand(cat, ns, name, ifExists)
          case None => dv
        }
      case av @ AlterViewAs(
          org.apache.spark.sql.catalyst.analysis.UnresolvedView(
            parts, _, _, _), originalText, _) =>
        // in-place redefinition: the view must already exist, and the
        // new definition publishes through replaceView — on the
        // governed catalog that is ONE atomic catalog commit, never a
        // drop-then-create window. Temp views fall through to Spark
        // (viewTarget refuses names bound to one).
        viewTarget(parts) match {
          case Some((cat, ns, name)) =>
            GraftAlterViewAsCommand(cat, ns, name, originalText)
          case None => av
        }
      case sv @ ShowViews(UnresolvedNamespace(parts, _), pattern, _) =>
        nsTarget(parts) match {
          case Some((cat, ns)) => GraftShowViewsCommand(cat, ns, pattern)
          case None => sv
        }
      case other => other
    }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

case class GraftViewResolutionRule(session: SparkSession)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    // top-down: a `VERSION AS OF` wrapper must claim its inner
    // relation BEFORE the bare-relation case would expand it as the
    // LATEST definition
    plan.resolveOperatorsDown {
      case tt @ RelationTimeTravel(u: UnresolvedRelation, None, Some(v)) =>
        substituteAsOf(u, v).getOrElse(tt)
      case u: UnresolvedRelation => substitute(u).getOrElse(u)
    }

  /** `SELECT ... FROM gov.view VERSION AS OF <commit|tag>` — a
    * GOVERNED view resolves its stored definition AT that catalog
    * commit and pins every same-catalog table reference inside it to
    * the same commit, so the time-traveled view sees the catalog's
    * cross-table-consistent state of that instant (nested governed
    * views pin recursively through this same rule). Warehouse views
    * have no single version domain spanning their tables — not
    * claimed here. */
  private def substituteAsOf(u: UnresolvedRelation,
                             version: String): Option[LogicalPlan] = {
    val parts = qualify(u.multipartIdentifier).getOrElse(return None)
    val ident = Identifier.of(parts.tail.init.toArray, parts.last)
    val (view, commit) = session.sessionState.catalogManager.catalog(parts.head) match {
      case c: GraftSqlCatalog => c.viewAsOf(ident, version).getOrElse(return None)
      case _ => return None
    }
    val expanded = expand(view, parts.last)
    // pin the definition's same-catalog references at the commit
    val pinned = expanded.transformWithSubqueries {
      case r: UnresolvedRelation if r.multipartIdentifier.length >= 2 &&
          r.multipartIdentifier.head == parts.head =>
        RelationTimeTravel(r, None, Some(commit.toString))
    }
    Some(pinned)
  }

  /** Fully-qualified (catalog, ns..., name) the way the analyzer
    * would resolve `raw`, when the target catalog is a graft catalog;
    * None otherwise. */
  private def qualify(raw: Seq[String]): Option[Seq[String]] =
    if (raw.length >= 2 && GraftViews.isGraftCatalog(session, raw.head))
      Some(raw)
    else {
      val cm = session.sessionState.catalogManager
      val cur = cm.currentCatalog.name()
      if (!GraftViews.isGraftCatalog(session, cur)) None
      else if (raw.length == 1)
        Some((cur +: cm.currentNamespace.toSeq) :+ raw.head)
      else Some(cur +: raw)
    }

  private def substitute(u: UnresolvedRelation): Option[LogicalPlan] = {
    // explicit graft-catalog prefix, else the session's current
    // catalog when that is a graft catalog (current namespace fills
    // single-part names) — mirror of the parser's viewTarget
    val parts = qualify(u.multipartIdentifier).getOrElse(return None)
    val vc = session.sessionState.catalogManager.catalog(parts.head) match {
      case v: ViewCatalog => v
      case _ => return None
    }
    val ident = Identifier.of(parts.tail.init.toArray, parts.last)
    if (!vc.viewExists(ident)) return None
    val view = vc.loadView(ident)
    Some(expand(view, parts.last))
  }

  /** Parse + CTE-substitute + late-bind + alias a stored definition. */
  private def expand(view: org.apache.spark.sql.connector.catalog.View,
                     aliasName: String): LogicalPlan = {
    val raw0 = session.sessionState.sqlParser.parsePlan(view.query())
    // CTE substitution already RAN on the outer plan (its analyzer
    // batch precedes every resolution rule), so a definition's WITH
    // clauses must be substituted here or `FROM c` would stay
    // unresolved — and substituting first also keeps CTE
    // self-references out of the re-qualification below
    val parsed =
      org.apache.spark.sql.catalyst.analysis.CTESubstitution(raw0)
    // late binding under the STORED context: a name the definition
    // left unqualified resolves where the view was created, not where
    // it is read
    val prefix = view.currentCatalog() +: view.currentNamespace()
    val qualified = parsed.transformWithSubqueries {
      case r: UnresolvedRelation if r.multipartIdentifier.length == 1 =>
        new UnresolvedRelation(
          (prefix :+ r.multipartIdentifier.head).toSeq,
          r.options, r.isStreaming)
    }
    val aliased =
      if (view.columnAliases() == null || view.columnAliases().isEmpty)
        qualified
      else {
        import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        import org.apache.spark.sql.catalyst.expressions.Alias
        import org.apache.spark.sql.catalyst.plans.logical.Project
        Project(view.queryColumnNames().toSeq
          .zip(view.columnAliases().toSeq).map { case (q, a) =>
            Alias(UnresolvedAttribute.quoted(q), a)()
          }, qualified)
      }
    SubqueryAlias(aliasName, aliased)
  }
}
