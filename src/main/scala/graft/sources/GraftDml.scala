package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, EqualTo, Expression, PredicateHelper, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, LogicalPlan, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._

import graft.operators.{Catalog, SnapshotTable}

/** SQL row-level DML over snapshot tables — `MERGE INTO` and
  * `UPDATE`, the two statements the connector's `SupportsDelete`
  * surface cannot carry (Spark routes them through
  * `SupportsRowLevelOperations`, whose group-based write path has no
  * V1 fallback). Instead [[GraftDmlRule]] intercepts the ANALYZED
  * `MergeIntoTable` / `UpdateTable` over a [[GraftTable]] (Spark's own
  * row-level rewrite only matches `SupportsRowLevelOperations` tables,
  * so the nodes survive resolution untouched) and replaces them with
  * eager commands that run the library's scale-safe writers:
  *
  *   - MERGE (upsert shape: `WHEN MATCHED UPDATE` + `WHEN NOT MATCHED
  *     INSERT`, both full-row and identical) →
  *     [[SnapshotTable.upsertMor]] — the O(batch) append +
  *     equality-delete commit; zero table reads, zero rewrites.
  *   - UPDATE → routed by predicate shape: partition-aligned
  *     predicates take [[SnapshotTable.updateWhere]] (partition-pruned
  *     copy-on-write — every row of a touched partition changes, the
  *     rewrite is minimal); everything else takes
  *     [[SnapshotTable.updateWhereMor]] (merge-on-read: append updated
  *     images + same-version equality delete — O(matched rows), no
  *     partition rewrite).
  *
  * Shapes outside the contract REFUSE with the supported form in the
  * error (running the wrong rows is not an optimization miss).
  * Reference analog: `processing/spark_jobs/bronze_to_silver.py:156-188`
  * runs exactly this MERGE through Spark SQL on Iceberg. */
object GraftDml {

  /** Where a DML statement lands: a plain warehouse table (commits
    * publish via the table marker) or a governed table (commits
    * publish as atomic catalog commits). */
  sealed trait Target { def tableRoot: String }
  case class Warehouse(tableRoot: String) extends Target
  case class Governed(catalogRoot: String, table: String) extends Target {
    def tableRoot: String = Catalog.tableRoot(catalogRoot, table)
  }

  private[sources] def baseVersion(t: Target): Long = t match {
    case Warehouse(r) => SnapshotTable.latestVersion(r)
    case g: Governed => Catalog.tableVersions(g.catalogRoot)(g.table)
  }

  /** MERGE upsert through the O(batch) MoR path. The SQL contract
    * (validated by the rule) guarantees the batch is the full
    * replacement/insert row set; the cardinality check here is the
    * runtime half of SQL MERGE's "a target row may match at most one
    * source row" rule — duplicate source keys would otherwise BOTH
    * survive in the appended batch. Governed targets publish as ONE
    * atomic catalog commit, CAS-retried against concurrent committers
    * (the [[graft.streaming.GovernedStream]] protocol minus the batch
    * id). Returns the new version (warehouse) / commit (governed). */
  def runMerge(spark: SparkSession, target: Target, partitionCol: String,
               keyCols: Seq[String], batch: DataFrame,
               syncDelete: Boolean = false): Long = {
    val schema = SnapshotTable.read(spark, target.tableRoot,
      baseVersion(target)).schema
    val aligned = batch.select(schema.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    val dups = aligned.groupBy(keyCols.map(col): _*).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dups.isEmpty,
      s"MERGE cardinality violation: duplicate source key " +
        s"${dups.head.toSeq.init.mkString("(", ", ", ")")} — a target " +
        "row may match at most one source row")
    // WHEN NOT MATCHED BY SOURCE THEN DELETE (the full-sync shape):
    // target keys absent from the source land as a SECOND
    // equality-delete sidecar — one key-column scan of the base (the
    // semantics demand knowing what the source lacks), still zero data
    // rewrites, computed ONCE (persisted across the emptiness probe
    // and the sidecar write). NULL keys need care: the eq-delete
    // sidecar matches NULL-SAFELY against every file older than its
    // version — including the just-appended batch — so a NULL-key
    // tombstone is only safe when the BATCH carries no NULL-key row;
    // otherwise the statement refuses rather than silently deleting
    // the row it just inserted. Non-null anti keys are disjoint from
    // the batch's keys by construction.
    def antiKeys(base: Long): DataFrame = {
      val keyIsNull = keyCols.map(col(_).isNull).reduce(_ || _)
      val baseKeys = SnapshotTable.read(spark, target.tableRoot, base)
        .select(keyCols.map(col): _*).distinct()
      // a NULL-key target row matches no source row (standard MERGE
      // equality), so NOT MATCHED BY SOURCE always deletes it
      val nullTargets = baseKeys.filter(keyIsNull)
      val antiStd = baseKeys.filter(!keyIsNull)
        .join(aligned.select(keyCols.map(col): _*).distinct(),
          keyCols, "left_anti")
      val anti = antiStd.unionByName(nullTargets).persist()
      if (!nullTargets.isEmpty &&
          !aligned.filter(keyIsNull).isEmpty) {
        anti.unpersist()
        throw new UnsupportedOperationException(
          "MERGE ... NOT MATCHED BY SOURCE DELETE with NULL merge keys " +
            "on BOTH sides: the equality-delete tombstone for the " +
            "target's NULL-key rows would also mask the batch's " +
            "NULL-key insert — delete the NULL-key rows explicitly " +
            "first")
      }
      anti
    }
    target match {
      case Warehouse(root) =>
        if (!syncDelete)
          SnapshotTable.upsertMor(spark, root, partitionCol, aligned, keyCols)
        else
          // both halves stage unpublished, ONE marker move publishes —
          // a reader never sees the upserts without the sync-deletes
          SnapshotTable.publish(root) { base =>
            val anti = antiKeys(base)
            try {
              val d1 = SnapshotTable.stageUpsertMor(aligned, root,
                partitionCol, keyCols, base)
              if (anti.isEmpty) d1
              else SnapshotTable.stageEqualityDelete(spark, root, anti, d1)
            } finally anti.unpersist()
          }
      case g: Governed =>
        Catalog.publishTable(g.catalogRoot, g.table) { prev =>
          if (!syncDelete)
            SnapshotTable.stageUpsertMor(aligned, g.tableRoot,
              partitionCol, keyCols, prev)
          else {
            // NULL-key refusal fires BEFORE anything stages
            val anti = antiKeys(prev)
            try {
              val d1 = SnapshotTable.stageUpsertMor(aligned, g.tableRoot,
                partitionCol, keyCols, prev)
              if (anti.isEmpty) d1
              else SnapshotTable.stageEqualityDelete(spark,
                g.tableRoot, anti, d1)
            } finally anti.unpersist()
          }
        }
    }
  }

  /** One ordered `WHEN MATCHED [AND cond]` clause: `sets` = the UPDATE
    * assignments (PARTIAL allowed — unset columns keep the target
    * row's value), None = DELETE. Conditions/values reference the
    * prefixed join columns (`_t_*` target, `_s_*` source). */
  case class MatchedClause(cond: Option[Column],
                           sets: Option[Seq[(String, Column)]])

  /** One ordered `WHEN NOT MATCHED [AND cond] THEN INSERT` clause;
    * unassigned columns insert as typed NULL. */
  case class InsertClause(cond: Option[Column],
                          sets: Seq[(String, Column)])

  /** The GENERAL MERGE path — conditional clauses, partial SET,
    * multiple ordered clauses, optional `WHEN NOT MATCHED BY SOURCE
    * [AND cond] THEN DELETE` — at merge-on-read cost: ONE read of the
    * target (the key join that the semantics demand — clause
    * conditions and partial updates need the matched row's values),
    * zero rewrites, one commit appending the updated/inserted images
    * with the touched keys as a same-version equality-delete sidecar.
    * Matched rows no clause claims are absent from both sides and stay
    * untouched. First-matching-clause-wins per the SQL standard; a
    * target row matching more than one source row refuses
    * (cardinality). Compare [[runMerge]], the zero-read fast path the
    * rule still uses for the unconditional full-row upsert shape. */
  def runMergeClauses(spark: SparkSession, target: Target,
                      partitionCol: String, keyCols: Seq[String],
                      source: DataFrame, srcKeyExprs: Seq[Column],
                      matched: Seq[MatchedClause],
                      inserts: Seq[InsertClause],
                      nmbsDelete: Option[Option[Column]]): Long = {
    val srcP = source.select(source.columns.toSeq.map(c =>
      col(c).as(s"_s_$c")): _*)

    /** (appended images, tombstoned keys) derived against `base` —
      * re-derived per CAS attempt for governed targets (the matched
      * rows depend on the base the commit lands on). */
    def derive(base: Long): (DataFrame, DataFrame) = {
      val tgt = SnapshotTable.read(spark, target.tableRoot, base)
      val tSchema = tgt.schema
      val tgtP = tgt.select(tgt.columns.toSeq.map(c =>
        col(c).as(s"_t_$c")) :+ lit(true).as("_gft_matched"): _*)
        // a per-ROW identity for the cardinality check: a target may
        // legitimately hold duplicate-KEY rows (appends create them;
        // the upsert tombstone resolves them) — each such row matching
        // ONE source row is fine, so grouping by key would refuse
        // falsely. Stable within the persisted join below.
        .withColumn("_gft_rid", monotonically_increasing_id())
      val joinCond = keyCols.zip(srcKeyExprs)
        .map { case (tc, se) => col(s"_t_$tc") === se }.reduce(_ && _)
      val j = srcP.join(tgtP, joinCond, "left_outer").persist()
      try {
        // SQL MERGE cardinality: a target ROW may match at most one
        // source row (two matches would append two conflicting images)
        val dups = j.filter(col("_gft_matched"))
          .groupBy(col("_gft_rid"))
          .agg(count(lit(1)).as("count"),
            first(struct(keyCols.map(k => col(s"_t_$k")): _*)).as("key"))
          .filter(col("count") > 1).limit(1).collect()
        require(dups.isEmpty,
          s"MERGE cardinality violation: target key " +
            s"${dups.head.getStruct(2).toSeq.mkString("(", ", ", ")")} " +
            "matches more than one source row")
        // first-matching-clause-wins: fold right so clause 0 tests first
        def firstMatch(conds: Seq[Option[Column]]): Column =
          conds.zipWithIndex.foldRight(lit(-1)) { case ((c, i), els) =>
            when(c.getOrElse(lit(true)), lit(i)).otherwise(els)
          }
        val mt = j.filter(col("_gft_matched"))
          .withColumn("_action", firstMatch(matched.map(_.cond)))
        val updIdx = matched.zipWithIndex.collect {
          case (c, i) if c.sets.isDefined => i }
        val updRows = mt
          .filter(if (updIdx.isEmpty) lit(false)
            else col("_action").isInCollection(updIdx.map(i => i: Any)))
          .select(tSchema.fields.toSeq.map { f =>
            matched.zipWithIndex
              .collect { case (cl, i) if cl.sets.isDefined =>
                i -> cl.sets.get.toMap.getOrElse(f.name,
                  col(s"_t_${f.name}")) }
              .foldRight(col(s"_t_${f.name}")) { case ((i, v), els) =>
                when(col("_action") === i, v).otherwise(els) }
              .cast(f.dataType).as(f.name)
          }: _*)
        val touchedKeys = mt.filter(col("_action") >= 0)
          .select(keyCols.map(k => col(s"_t_$k").as(k)): _*)
        val insRows = j.filter(col("_gft_matched").isNull)
          .withColumn("_action", firstMatch(inserts.map(_.cond)))
          .filter(col("_action") >= 0)
          .select(tSchema.fields.toSeq.map { f =>
            inserts.zipWithIndex.map { case (cl, i) =>
              i -> cl.sets.toMap.getOrElse(f.name,
                lit(null).cast(f.dataType)) }
              .foldRight(lit(null).cast(f.dataType): Column) {
                case ((i, v), els) =>
                  when(col("_action") === i, v).otherwise(els) }
              .cast(f.dataType).as(f.name)
          }: _*)
        // NOT MATCHED BY SOURCE DELETE pays the anti-join the
        // semantics demand; NULL-key targets match nothing and delete.
        // A NULL-key tombstone is SAFE here (unlike the two-version
        // sync path): append and sidecar share one version, so the
        // batch's own rows are never masked.
        val nmbsKeys = nmbsDelete.toSeq.map { cond =>
          tgtP.join(srcP, joinCond, "left_anti")
            .filter(cond.getOrElse(lit(true)))
            .select(keyCols.map(k => col(s"_t_$k").as(k)): _*)
        }
        val delKeys = (touchedKeys +: nmbsKeys).reduce(_ unionByName _)
        // materialize OFF the persisted join before unpersist: the
        // staging write must not recompute the target read. ONE eager
        // checkpoint for both outputs — the appended images and the
        // tombstoned keys union into a single tagged frame (key columns
        // are target columns, so a key row is a null-padded image row),
        // halving the materialization actions per MERGE
        val keySet = keyCols.toSet
        val delPadded = delKeys.distinct().select(tSchema.fields.toSeq.map {
          f =>
            (if (keySet.contains(f.name)) col(f.name)
             else lit(null).cast(f.dataType)).as(f.name)
        }: _*)
        val both = updRows.unionByName(insRows)
          .withColumn("_gft_del", lit(false))
          .unionByName(delPadded.withColumn("_gft_del", lit(true)))
          .localCheckpoint(eager = true)
        (both.filter(!col("_gft_del")).drop("_gft_del"),
          both.filter(col("_gft_del"))
            .select(keyCols.map(col(_)): _*))
      } finally j.unpersist()
    }

    target match {
      case Warehouse(root) =>
        SnapshotTable.publish(root) { base =>
          val (app, del) = derive(base)
          SnapshotTable.stageMergeBatch(app, root, partitionCol, del, base)
        }
      case g: Governed =>
        Catalog.publishTable(g.catalogRoot, g.table) { prev =>
          val (app, del) = derive(prev)
          SnapshotTable.stageMergeBatch(app, g.tableRoot, partitionCol, del,
            prev)
        }
    }
  }

  /** UPDATE, routed by predicate shape (the Iceberg v2 engine choice):
    *
    *   - PARTITION-ALIGNED predicates (every referenced column is a
    *     partition-spec source, incl. the no-WHERE full-table case) →
    *     [[SnapshotTable.updateWhere]], the copy-on-write partition
    *     rewrite — every row of each touched partition changes anyway,
    *     so the rewrite is the minimal write and leaves no MoR debt;
    *   - everything else → [[SnapshotTable.updateWhereMor]], the
    *     merge-on-read append + same-version equality delete — a
    *     few-row UPDATE inside a huge partition costs O(matched rows),
    *     not a partition rewrite ([[SnapshotTable.applyDeletes]] folds
    *     the sidecar on the maintenance cadence).
    *
    * NONDETERMINISTIC predicates (e.g. `WHERE rand() < 0.5`) always
    * take CoW, even when not aligned: MoR masks old images by
    * equality, and ANY equality key — even the full row — is only
    * exact when matching is a pure function of the row. A
    * nondeterministic predicate can match one of two identical twin
    * rows and not the other; the full-row sidecar would mask BOTH
    * while only the matched twin re-appends, silently losing a row.
    * CoW rewrites rows in place (`when(pred, set).otherwise(keep)`),
    * so multiplicity is preserved whatever the predicate draws.
    *
    * Unmanifested (plain-partitioned) tables always take CoW — the
    * equality sidecar rides the partition manifest. Governed targets
    * publish either staging as one atomic catalog commit. */
  def runUpdate(spark: SparkSession, target: Target, partitionCol: String,
                predicate: Column, sets: Seq[(String, Column)],
                predicateRefs: Set[String],
                deterministicPredicate: Boolean = true): Long = {
    val layout = SnapshotTable.parseSpecs(partitionCol).map(_.source).toSet
    val cow = predicateRefs.forall(layout.contains) ||
      !deterministicPredicate
    def manifested(root: String, base: Long) =
      base >= 0 && SnapshotTable.manifestEntries(root, base).nonEmpty
    target match {
      case Warehouse(root) =>
        if (cow ||
            !manifested(root, SnapshotTable.latestVersion(root)))
          SnapshotTable.updateWhere(spark, root, partitionCol, predicate,
            sets)
        else
          SnapshotTable.updateWhereMor(spark, root, partitionCol,
            predicate, sets, predicateRefs)
      case g: Governed =>
        Catalog.publishTable(g.catalogRoot, g.table) { prev =>
          if (cow || !manifested(g.tableRoot, prev))
            SnapshotTable.stageUpdateWhere(spark, g.tableRoot,
              partitionCol, predicate, sets, prev)
          else
            SnapshotTable.stageUpdateMor(spark, g.tableRoot,
              partitionCol, predicate, sets, prev, predicateRefs)
        }
    }
  }

  /** MERGE `WHEN MATCHED THEN DELETE` (alone): the source's key set
    * lands as one equality-delete sidecar commit masking every
    * matching row — O(batch), zero reads/rewrites of the table (the
    * Iceberg v2 equality-delete flavor CDC writers use for
    * tombstones). Keys cast to the target's column types so sidecar
    * resolution matches exactly. */
  def runMergeDelete(spark: SparkSession, target: Target,
                     keys: DataFrame): Long = {
    val schema = SnapshotTable.read(spark, target.tableRoot,
      baseVersion(target)).schema
    val aligned = keys.select(keys.columns.toSeq.map(c =>
      col(c).cast(schema(c).dataType).as(c)): _*)
    target match {
      case Warehouse(root) =>
        SnapshotTable.deleteEqualityMor(spark, root, aligned)
      case g: Governed =>
        Catalog.publishTable(g.catalogRoot, g.table)(
          SnapshotTable.stageEqualityDelete(spark, g.tableRoot, aligned, _))
    }
  }

  /** DELETE as a merge-on-read sidecar commit, with the EXACT
    * analyzed predicate — the rule-routed superset of the connector's
    * `SupportsDelete` path, which can only carry predicates the strict
    * V1-filter translator renders (a `LIKE '%a%'` used to refuse;
    * the Catalyst expression IS the predicate, so nothing is lost in
    * translation). Governed targets land as one atomic catalog
    * commit ([[Catalog.transactMorDelete]]).
    *
    * Unlike MoR UPDATE (see [[runUpdate]]'s nondeterministic routing),
    * no determinism guard is needed here: the predicate resolves to a
    * POSITIONAL `(file, pos)` sidecar at commit time
    * ([[SnapshotTable.stageMorDelete]] evaluates it once against the
    * live rows) and is never re-evaluated at read — a
    * nondeterministic predicate just freezes one arbitrary draw,
    * which is the only meaning a `DELETE WHERE rand() < 0.5` can
    * have; identical twin rows resolve by position, so the
    * equality-masking twin-loss class cannot occur. */
  def runDelete(spark: SparkSession, target: Target,
                predicate: Column): Long = target match {
    case Warehouse(root) =>
      SnapshotTable.deleteWhereMor(spark, root, predicate)
    case g: Governed =>
      Catalog.transactMorDelete(spark, g.catalogRoot,
        Seq(g.table -> predicate))
  }
}

/** The post-hoc resolution rule wiring SQL MERGE/UPDATE to
  * [[GraftDml]] — injected by [[graft.GraftExtensions]]. Validation
  * happens HERE (analysis time, loud errors); execution is the eager
  * command in `org.apache.spark.sql.graft.GraftDmlCommands`. */
case class GraftDmlRule(session: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  import org.apache.spark.sql.graft.{GraftDeleteCommand, GraftMergeClausesCommand, GraftMergeCommand, GraftMergeDeleteCommand, GraftUpdateCommand}

  /** The statement's target: (where the write lands, the relation).
    * Pinned (version/tag/branch) relations refuse — time travel is
    * read-only; DML runs against the live head. */
  private def graftTarget(plan: LogicalPlan, stmt: String)
      : Option[(GraftDml.Target, DataSourceV2Relation)] = plan match {
    case SubqueryAlias(_, child) => graftTarget(child, stmt)
    case r: DataSourceV2Relation => r.table match {
      case t: GraftTable =>
        require(!t.isPinned,
          s"$stmt against a version/tag/branch pin is read-only time " +
            "travel; run it against the live table")
        Some((GraftDml.Warehouse(t.root), r))
      case t: GraftGovernedTable =>
        require(t.writable,
          s"$stmt against a pinned/branch governed read is read-only; " +
            "run it against the latest catalog commit")
        Some((GraftDml.Governed(t.catalogRoot, t.table), r))
      case _ => None
    }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case m: MergeIntoTable if m.resolved =>
        graftTarget(m.targetTable, "MERGE INTO")
          .map(t => rewriteMerge(m, t._1, t._2)).getOrElse(m)
      case u: UpdateTable if u.resolved =>
        graftTarget(u.table, "UPDATE")
          .map(t => rewriteUpdate(u, t._1, t._2)).getOrElse(u)
      case d: DeleteFromTable if d.resolved =>
        graftTarget(d.table, "DELETE FROM")
          .map(t => rewriteDelete(d, t._1)).getOrElse(d)
    }

  /** DELETE carries the full analyzed predicate to the MoR sidecar —
    * no V1-filter translation loss (the `SupportsDelete` path stays as
    * the fallback when the extensions are not loaded). Subqueries in
    * the predicate refuse: a DELETE whose row set depends on another
    * query needs MERGE semantics. */
  private def rewriteDelete(d: DeleteFromTable,
                            t: GraftDml.Target): LogicalPlan = {
    require(!d.condition.exists(_.isInstanceOf[SubqueryExpression]),
      "DELETE with a subquery predicate is not supported; materialize " +
        "the key set and MERGE, or use the library API")
    require(SnapshotTable.manifestEntries(t.tableRoot,
      GraftDml.baseVersion(t)).nonEmpty,
      "DELETE needs a manifested table (the MoR sidecar rides the " +
        "partition manifest)")
    GraftDeleteCommand(t, d.condition)
  }

  private def refuse(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft MERGE supports ON <conjunction of key equalities> with " +
        "UPDATE/DELETE matched clauses, INSERT not-matched clauses " +
        "(each optionally AND <condition>, partial SET allowed), and " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE — got: " + what)

  private def stripCast(e: Expression): Expression = e match {
    case c: Cast => stripCast(c.child)
    case other => other
  }

  private def tableRequirements(t: GraftDml.Target, stmt: String): String =
    SnapshotTable.partitionSpec(t.tableRoot).getOrElse(
      throw new UnsupportedOperationException(
        s"$stmt needs a partitioned, manifested graft table (the " +
          "write lands as a partition-level commit); this table has " +
          "no partition spec"))

  /** assignments as (target column name → value), refusing nested
    * assignment targets. */
  private def assignPairs(assigns: Seq[Assignment],
                          targetOut: Set[org.apache.spark.sql.catalyst.expressions.ExprId])
      : Seq[(String, Expression)] =
    assigns.map { a =>
      a.key match {
        case ar: AttributeReference if targetOut.contains(ar.exprId) =>
          ar.name -> a.value
        case other => refuse(s"non-column assignment target $other")
      }
    }

  /** The ON condition as (target column, source expression) pairs —
    * a conjunction of equalities between one bare target column and
    * one source-rooted expression; anything else refuses. */
  private def keyPairsOf(m: MergeIntoTable,
                         targetIds: Set[org.apache.spark.sql.catalyst.expressions.ExprId])
      : Seq[(String, Expression)] = {
    val pairs = splitConjunctivePredicates(m.mergeCondition).map {
      case EqualTo(l, r) =>
        (stripCast(l), stripCast(r)) match {
          case (a: AttributeReference, s) if targetIds.contains(a.exprId) &&
            s.references.forall(ref => !targetIds.contains(ref.exprId)) =>
            a.name -> r
          case (s, a: AttributeReference) if targetIds.contains(a.exprId) &&
            s.references.forall(ref => !targetIds.contains(ref.exprId)) =>
            a.name -> l
          case other => refuse(s"ON condition $other (need target-column " +
            "= source-expression)")
        }
      case other => refuse(s"non-equality ON conjunct $other")
    }
    require(pairs.nonEmpty, "MERGE needs at least one key equality")
    pairs
  }

  private def rewriteMerge(m: MergeIntoTable, t: GraftDml.Target,
                           rel: DataSourceV2Relation): LogicalPlan = {
    val partitionCol = tableRequirements(t, "MERGE INTO")
    // WITH SCHEMA EVOLUTION: Spark's own ResolveMergeIntoSchemaEvolution
    // already widened a CATALOG-backed target (TableCatalog.alterTable
    // — the metadata-only field-id evolution both graft catalogs
    // implement; governed targets publish it as a rollback-able
    // catalog commit) and reloaded the relation before this post-hoc
    // rule runs. A path-addressed table has no catalog to evolve
    // through — refuse rather than silently dropping the source's new
    // columns at star expansion.
    require(!m.withSchemaEvolution || rel.catalog.isDefined,
      "MERGE ... WITH SCHEMA EVOLUTION needs a catalog-backed graft " +
        "table (a path-addressed table cannot evolve at analysis); " +
        "run ALTER TABLE ADD COLUMN first")
    val targetIds = rel.outputSet.map(_.exprId).toSet
    val keyPairs = keyPairsOf(m, targetIds)
    val allActions = m.matchedActions ++ m.notMatchedActions ++
      m.notMatchedBySourceActions
    require(!allActions.flatMap(_.condition)
        .exists(_.exists(_.isInstanceOf[SubqueryExpression])),
      "MERGE clause conditions with subqueries are not supported")

    // WHEN MATCHED DELETE (alone, unconditional): "remove the keys the
    // source carries" — exactly an equality-delete sidecar commit,
    // O(batch), ZERO reads of the table
    (m.matchedActions, m.notMatchedActions,
        m.notMatchedBySourceActions) match {
      case (Seq(DeleteAction(None)), Seq(), Seq()) =>
        return GraftMergeDeleteCommand(t, m.sourceTable, keyPairs)
      case _ => ()
    }

    // fast path: the unconditional full-row upsert (+ optional
    // unconditional full-sync delete) costs ZERO target reads —
    // anything else falls through to the general merge-on-read path
    // (one target read, still zero rewrites)
    fastUpsert(m, t, rel, partitionCol, keyPairs, targetIds)
      .getOrElse(generalMerge(m, t, partitionCol, keyPairs, targetIds))
  }

  /** The zero-read upsert shape, or None: exactly one unconditional
    * full-row UPDATE + one unconditional full-row INSERT assigning
    * identical values, keys assigned the ON source expressions; NMBS
    * absent or one unconditional DELETE (the full-sync form). */
  private def fastUpsert(m: MergeIntoTable, t: GraftDml.Target,
                         rel: DataSourceV2Relation, partitionCol: String,
                         keyPairs: Seq[(String, Expression)],
                         targetIds: Set[org.apache.spark.sql.catalyst.expressions.ExprId])
      : Option[LogicalPlan] = {
    val syncDelete = m.notMatchedBySourceActions match {
      case Seq() => false
      case Seq(DeleteAction(None)) => true
      case _ => return None
    }
    val upd = m.matchedActions match {
      case Seq(UpdateAction(None, assigns, _)) =>
        assignPairs(assigns, targetIds).toMap
      case _ => return None
    }
    val ins = m.notMatchedActions match {
      case Seq(InsertAction(None, assigns)) =>
        assignPairs(assigns, targetIds).toMap
      case _ => return None
    }
    val cols = rel.output.map(_.name)
    // full-row and identical: one appended row serves as both the
    // update result and the insert — the upsertMor contract
    cols.foreach { c =>
      val (u, i) = (upd.get(c), ins.get(c))
      if (u.isEmpty || i.isEmpty) return None
      if (u.get.canonicalized != i.get.canonicalized &&
          stripCast(u.get).canonicalized != stripCast(i.get).canonicalized)
        return None
    }
    // the batch's key value must BE the ON's source expression, or
    // the equality-delete would mask the wrong rows
    val keyCols = keyPairs.map { case (tc, se) =>
      if (stripCast(upd(tc)).canonicalized != stripCast(se).canonicalized)
        return None
      tc
    }
    Some(GraftMergeCommand(t, partitionCol, keyCols, m.sourceTable,
      rel.output.map(a => a.name -> upd(a.name)), syncDelete))
  }

  /** The general clause shape → [[GraftMergeClausesCommand]]
    * (conditional clauses, partial SET, multiple ordered clauses,
    * conditional NMBS delete). */
  private def generalMerge(m: MergeIntoTable, t: GraftDml.Target,
                           partitionCol: String,
                           keyPairs: Seq[(String, Expression)],
                           targetIds: Set[org.apache.spark.sql.catalyst.expressions.ExprId])
      : LogicalPlan = {
    val matchedClauses = m.matchedActions.map {
      case UpdateAction(c, assigns, _) =>
        (c, Some(assignPairs(assigns, targetIds)))
      case DeleteAction(c) => (c, None)
      case other => refuse(s"matched action $other")
    }
    val insertClauses = m.notMatchedActions.map {
      case InsertAction(c, assigns) => (c, assignPairs(assigns, targetIds))
      case other => refuse(s"not-matched action $other")
    }
    val nmbs = m.notMatchedBySourceActions match {
      case Seq() => None
      case Seq(DeleteAction(c)) => Some(c)
      case other => refuse(
        s"WHEN NOT MATCHED BY SOURCE supports THEN DELETE only: $other")
    }
    GraftMergeClausesCommand(t, partitionCol, keyPairs, m.sourceTable,
      matchedClauses, insertClauses, nmbs, targetIds)
  }

  private def rewriteUpdate(u: UpdateTable, t: GraftDml.Target,
                            rel: DataSourceV2Relation): LogicalPlan = {
    val partitionCol = tableRequirements(t, "UPDATE")
    val targetIds = rel.outputSet.map(_.exprId).toSet
    val sets = u.assignments.map { a =>
      a.key match {
        case ar: AttributeReference if targetIds.contains(ar.exprId) =>
          ar.name -> a.value
        case other => throw new UnsupportedOperationException(
          s"UPDATE supports plain column assignments only, got $other")
      }
    }
    GraftUpdateCommand(t, partitionCol, u.condition, sets)
  }
}
