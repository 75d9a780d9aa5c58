package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.GraftFunction

/** Spark session extensions for the graft engine.
  *
  * Wire up with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` to get
  * the engine's native expressions in SQL and the DataFrame API:
  * `graft_dot(a, b)` (codegen'd float-array dot product),
  * `graft_nearest_k(e, nrm, centroids, k)` (codegen'd k nearest
  * centroids by cosine over a centroid literal),
  * `graft_simhash(hs)` (codegen'd 60-bit SimHash fingerprint), and
  * `graft_bloom_contains(filter, s)` (codegen'd bloom membership
  * probe over a serialized sketch literal).
  *
  * It also adds late optimizer rules to the session's
  * `extraOptimizations`: the scan-statistics swap, CBO join reorder
  * and runtime filtering over connector scans, and
  * [[GraftSmallPlanRule]], which runs each deterministic batch subtree
  * whose inputs fit in what AQE coalesces into one partition anyway
  * (`coalescePartitions.minPartitionSize` under `parallelismFirst`,
  * else `advisoryPartitionSizeInBytes`) in one task — inputs and
  * unions coalesced to one partition, layout-only repartitions made
  * coalesces, joins hinted shuffle-hash — so it plans no exchange and
  * no broadcast; a global `ORDER BY` whose input estimate fits sorts in
  * one task with no range-sample job. AQE off or a streaming plan
  * leaves every plan as it is.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunction.all.foreach(f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.builder)))
    // SQL MERGE INTO / UPDATE over snapshot tables: Spark's own
    // row-level rewrite only fires for SupportsRowLevelOperations
    // tables, so the analyzed nodes survive to this post-hoc rule,
    // which reroutes them to the library's O(batch) MoR upsert /
    // partition-pruned copy-on-write update
    ext.injectPostHocResolutionRule(session =>
      graft.sources.GraftDmlRule(session))
    // V1-fallback scans lose their SupportsReportStatistics behind
    // Spark's plain V1ScanWrapper, so the connector's POST-pruning
    // size estimate never reaches Catalyst's broadcast decision. The
    // swap rule must run AFTER "Early Filter and Projection Push-Down"
    // builds the wrapper, and the only extensible batch past that
    // point is "User Provided Optimizers" (experimental methods) — no
    // SparkSessionExtensions hook lands there, so the pre-CBO BUILDER
    // (invoked once per session, when its optimizer is first built)
    // registers the rule into the session's extraOptimizations. The
    // rule is also returned (harmless at pre-CBO: the scan relation
    // does not exist yet), keeping the wiring visible in both batches.
    // persisted SQL views on the warehouse catalog: the parser reroutes
    // CREATE/DROP/SHOW VIEW (Spark's analyzer refuses them for
    // non-session catalogs before any rule could), the resolution rule
    // substitutes stored definitions into reads
    ext.injectParser((session, delegate) =>
      new graft.sources.GraftViewParser(session, delegate))
    ext.injectResolutionRule(session =>
      graft.sources.GraftViewResolutionRule(session))
    ext.injectPreCBORule { session =>
      val rule = org.apache.spark.sql.graft.GraftScanStatsRule(session)
      if (!session.experimental.extraOptimizations
          .exists(_.isInstanceOf[org.apache.spark.sql.graft.GraftScanStatsRule]))
        session.experimental.extraOptimizations =
          session.experimental.extraOptimizations :+ rule
      // Catalyst's own "Join Reorder" batch runs right after scan
      // push-down but BEFORE this swap lands (extraOptimizations is
      // the last batch), so at its scheduled slot every connector
      // relation still hides its statistics behind the plain
      // V1ScanWrapper and CBO reorder never fires. Re-running the
      // (self-gating, idempotent) rule here — after the swap exposes
      // rowCount + NDV column stats — is what makes
      // spark.sql.cbo.joinReorder effective on graft tables.
      if (!session.experimental.extraOptimizations
          .exists(_.isInstanceOf[graft.sources.GraftCboReorderRule]))
        session.experimental.extraOptimizations =
          session.experimental.extraOptimizations :+
            graft.sources.GraftCboReorderRule(session)
      // runtime (dynamic) filtering for connector star joins — same
      // batch, for the same reason: it narrows the ALREADY-BUILT scan
      // with a join-derived conjunct, so it must run after pushdown
      // (and after the reorder above settles the join shape)
      if (!session.experimental.extraOptimizations
          .exists(_.isInstanceOf[graft.sources.GraftRuntimeFilterRule]))
        session.experimental.extraOptimizations =
          session.experimental.extraOptimizations :+
            graft.sources.GraftRuntimeFilterRule(session)
      // last, so its size gate reads the runtime-narrowed scans
      if (!session.experimental.extraOptimizations.contains(GraftSmallPlanRule))
        session.experimental.extraOptimizations =
          session.experimental.extraOptimizations :+ GraftSmallPlanRule
      rule
    }
  }
}
