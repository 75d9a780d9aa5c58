package graft.sources

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions.{col, countDistinct, max, min}
import org.apache.spark.sql.graft.GraftV1Wrap
import org.apache.spark.sql.sources.{GreaterThanOrEqual => SGte, In => SIn, LessThanOrEqual => SLte}

import graft.operators.SnapshotTable

/** RUNTIME (dynamic) FILTERING for `format("graft")` star joins — the
  * Trino capability the reference leans on for every fact×dim join
  * (`infrastructure/trino/config.properties` enables dynamic
  * filtering; Spark's own DPP covers only file-source partition
  * columns). Without it a selective dim-side filter scans the whole
  * fact table through the connector: static pushdown
  * ([[GraftScanBuilder.pushFilters]]) sees only literal predicates,
  * never join keys.
  *
  * Mechanics: on an equi-join whose one side may be pruned by the
  * join's semantics (unmatched rows never reach the output) and whose
  * OTHER side is small (≤ `spark.graft.runtimeFilter.maxBuildBytes`,
  * default max(autoBroadcastJoinThreshold, 8 MB)) and fully
  * deterministic, the rule EVALUATES the small side's join-key domain
  * at planning time — one tiny aggregate job, the plan-time analog of
  * Trino waiting for the build side — and narrows the fact-side
  * [[GraftScan]] with the derived conjunct:
  *
  *   - always the `[min, max]` key RANGE (any dim cardinality, prunes
  *     via per-file bounds), and
  *   - the exact `IN` set when the dim has at most
  *     `spark.graft.runtimeFilter.maxKeys` (default 200) distinct keys
  *     (prunes via bounds AND bloom sidecars).
  *
  * A dim the evaluated tier declines — OVERSIZED (past
  * `maxBuildBytes`) or NONDETERMINISTIC — still narrows when it is
  * itself a graft scan: the `[min, max]` conjunct derives from the
  * dim table's recorded per-file bounds (driver metadata, no
  * plan-time job, no size cap; over the KEPT files when the dim scan
  * file-pruned on a pushed predicate) — the middle tier between
  * Trino's full execution-time dynamic filtering and declining
  * entirely.
  *
  * Soundness: the conjunct holds for every fact row that can MATCH the
  * dim side, and the rewrite is applied only when the join type drops
  * unmatched fact rows (inner / semi on either side, the outer side of
  * an outer join) — so dropping non-matching files/rows cannot change
  * the answer. The dim side must be deterministic for the EVALUATED
  * tier (its runtime re-evaluation inside the join must produce the
  * same key domain; the metadata tier is a table-level superset, safe
  * under any filter) and non-streaming. Every narrowed scan reports its post-pruning bytes
  * through the stats wrapper, so a runtime-filtered fact can ALSO
  * become broadcast-joinable — the second half of what dynamic
  * filtering buys at 100 TB.
  *
  * Runs in the "User Provided Optimizers" batch (registered from the
  * pre-CBO builder in [[graft.GraftExtensions]], the only extensible
  * batch after pushdown builds the V1 wrapper); the batch is a fixed
  * point, so narrowed scans are marked `runtimeFiltered` and never
  * reprocessed. Any failure inside the rewrite degrades to the
  * unfiltered plan — this is an optimization, never a correctness
  * gate. */
case class GraftRuntimeFilterRule(session: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  private def confLong(key: String, dflt: Long): Long =
    session.conf.getOption(key).map(_.toLong).getOrElse(dflt)

  private def enabled: Boolean =
    session.conf.getOption("spark.graft.runtimeFilter.enabled")
      .forall(_.toBoolean)

  private def maxKeys: Long =
    confLong("spark.graft.runtimeFilter.maxKeys", 200L)

  /** Past `maxKeys` the exact IN set would bloat the conjunct; up to
    * THIS cardinality the key domain still pushes as a BLOOM — file
    * sidecar probes + a row-level might-contain residual (the
    * Trino-dynamic-filter / `spark.sql.optimizer.runtime.bloomFilter`
    * shape). Past it, only the [min,max] range remains. */
  private def bloomMaxKeys: Long =
    confLong("spark.graft.runtimeFilter.bloomMaxKeys", 100000L)

  private def maxBuildBytes: Long =
    confLong("spark.graft.runtimeFilter.maxBuildBytes",
      math.max(session.sessionState.conf.autoBroadcastJoinThreshold,
        8L * 1024 * 1024))

  // Spark's own DPP pruning-side rules: a side may be pruned exactly
  // when the join drops its unmatched rows
  private def canPruneLeft(jt: JoinType): Boolean = jt match {
    case Inner | LeftSemi | RightOuter => true
    case _ => false
  }
  private def canPruneRight(jt: JoinType): Boolean = jt match {
    case Inner | LeftOuter => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformUp {
      case j @ Join(left, right, jt, Some(cond), _) =>
        val eqs = splitConjunctivePredicates(cond).collect {
          case EqualTo(a: AttributeReference, b: AttributeReference) => (a, b)
        }
        if (eqs.isEmpty) j
        else {
          var (l, r) = (left, right)
          if (canPruneLeft(jt))
            l = pruneSide(l, right, eqs.flatMap(orient(left, right, _)))
          if (canPruneRight(jt))
            r = pruneSide(r, left, eqs.flatMap(orient(right, left, _)))
          if ((l eq left) && (r eq right)) j
          else j.copy(left = l, right = r)
        }
    }

  /** `(factAttr, dimAttr)` when the pair splits across the given
    * sides, else None. */
  private def orient(factSide: LogicalPlan, dimSide: LogicalPlan,
                     eq: (AttributeReference, AttributeReference))
      : Option[(AttributeReference, AttributeReference)] = {
    val (a, b) = eq
    if (factSide.outputSet.contains(a) && dimSide.outputSet.contains(b))
      Some((a, b))
    else if (factSide.outputSet.contains(b) && dimSide.outputSet.contains(a))
      Some((b, a))
    else None
  }

  /** The graft scan relation under `p`, reachable through projections
    * and filters only (the shapes left after pushdown). */
  private def findScan(p: LogicalPlan): Option[DataSourceV2ScanRelation] =
    p match {
      case r: DataSourceV2ScanRelation => Some(r)
      case pr: Project => findScan(pr.child)
      case f: Filter => findScan(f.child)
      case _ => None
    }

  private def deterministic(p: LogicalPlan): Boolean =
    p.find(n => n.expressions.exists(e =>
      e.exists(!_.deterministic))).isEmpty

  /** Narrow `factSide`'s graft scan with conjuncts derived from
    * `dimSide`'s key domain; the unchanged plan when ineligible. */
  private def pruneSide(factSide: LogicalPlan, dimSide: LogicalPlan,
                        keys: Seq[(AttributeReference, AttributeReference)])
      : LogicalPlan = {
    if (keys.isEmpty) return factSide
    val rel = findScan(factSide).getOrElse(return factSide)
    val scan = GraftV1Wrap.inner(rel.scan) match {
      case Some(g: GraftScan) if !g.runtimeFiltered => g
      case _ => return factSide
    }
    // batch only; size + determinism select the TIER below
    if (dimSide.isStreaming) return factSide
    // oversized or nondeterministic dims can't be EVALUATED at plan
    // time — but when the dim is itself a graft scan, its recorded
    // column bounds still yield a sound [min,max] conjunct from pure
    // metadata (no job): the Trino-dynamic-filter middle tier
    val evaluable = deterministic(dimSide) &&
      dimSide.stats.sizeInBytes <= maxBuildBytes
    // only keys that are REAL scan columns (same exprId through the
    // projections, so never an alias or computed value) and that the
    // scan's required schema still carries
    val eligible = keys.filter { case (f, _) =>
      rel.output.exists(o => o.exprId == f.exprId && o.name == f.name) &&
        scan.required.fieldNames.contains(f.name)
    }
    if (eligible.isEmpty) return factSide
    try {
      val derived = eligible.flatMap { case (f, d) =>
        if (evaluable) dimKeyConjunct(dimSide, d, f)
        else metaKeyConjunct(dimSide, d, f)
      }
      if (derived.isEmpty) factSide
      else {
        val conjuncts = derived.map(_._1)
        val blooms = derived.flatMap(_._2)
        val narrowed = scan.withRuntimeConjunct(
          conjuncts.mkString("(", ") AND (", ")"), blooms)
        val newScan = GraftV1Wrap.rewrap(rel.scan, narrowed)
          .getOrElse(return factSide)
        logInfo(s"graft runtime filter on ${scan.root}: " +
          conjuncts.mkString(" AND ") +
          blooms.map(b => s" + bloom(${b.column}, ${b.keyCount} keys)")
            .mkString)
        factSide.transform {
          case r: DataSourceV2ScanRelation if r eq rel =>
            r.copy(scan = newScan)
        }
      }
    } catch {
      case NonFatal(e) =>
        logWarning(s"graft runtime filter skipped (${e.getMessage})")
        factSide
    }
  }

  /** The evaluated key domain of one dim-side join key. `keys` is
    * collected only when `n` (the measured distinct count) is at most
    * `bloomMaxKeys`; past that only the bounds are usable. */
  private case class DimDomain(lo: Any, hi: Any, keys: Seq[Any], n: Long)

  /** Dim-side key domains already evaluated THIS SESSION, keyed by the
    * canonicalized dim plan + key exprId — re-optimizations of the
    * same plan (DataFrame reuse, nested joins re-running the batch)
    * must not re-run the build-side jobs. `None` caches "empty dim /
    * nothing derivable" too. A ConcurrentHashMap: the rule is
    * session-shared and concurrent sessions plan in parallel (Thrift
    * server, parallel jobs) — a plain mutable map would corrupt under
    * racing inserts. Bounded: cleared when it outgrows its window
    * (the entries are tiny; the bound only caps plan retention). */
  private val domainCache =
    new java.util.concurrent.ConcurrentHashMap[(LogicalPlan, Long),
      Option[DimDomain]]

  private def dimDomain(dimSide: LogicalPlan,
                        dimKey: AttributeReference): Option[DimDomain] = {
    if (domainCache.size > 128) domainCache.clear()
    val cacheKey = (dimSide.canonicalized, dimKey.exprId.id)
    // NEVER compute inside computeIfAbsent: the domain jobs below
    // re-run the optimizer on the dim-side plan, which can re-enter
    // this rule (nested star joins) and insert into the same map — a
    // recursive update computeIfAbsent forbids (IllegalStateException
    // or a livelock under the bin lock). Plain get → compute with no
    // lock held → putIfAbsent (first writer wins; a racing duplicate
    // computation is harmless, holding the lock through a Spark job
    // is not).
    val cached = domainCache.get(cacheKey)
    if (cached != null) return cached
    val computed: Option[DimDomain] = {
      val dimDf = GraftV1Wrap.ofRows(session, dimSide)
        .select(GraftV1Wrap.column(dimKey).as("__k"))
        .where(col("__k").isNotNull) // null keys never equi-match
      // bounds + DISTRIBUTED distinct count first (constant driver
      // cost); the key set is collected only once the count proves
      // it bounded — a mis-estimated "small" dim (post-filter size
      // estimates undershoot by orders of magnitude) must not funnel
      // millions of keys into one collect_set buffer
      val head = dimDf
        .agg(min(col("__k")), max(col("__k")),
          countDistinct(col("__k")))
        .head()
      if (head.isNullAt(0)) None // empty dim: nothing to refute with
      else {
        val n = head.getLong(2)
        val keys =
          if (n > bloomMaxKeys) Seq.empty[Any] // only [min,max] usable
          else dimDf.distinct().collect().map(_.get(0)).toSeq
        Some(DimDomain(head.get(0), head.get(1), keys, n))
      }
    }
    val prev = domainCache.putIfAbsent(cacheKey, computed)
    if (prev != null) prev else computed
  }

  /** Evaluate the dim side's key domain (one tiny aggregate job,
    * memoized per session) and render the fact-side narrowing: always
    * the min/max range conjunct; plus the exact IN set when the domain
    * is at most `maxKeys`; plus a pushed dim-key BLOOM when it is
    * larger but at most `bloomMaxKeys` — the high-cardinality tier
    * where an uncorrelated layout's [min,max] would refute nothing.
    * None = nothing safe to derive (empty dim, untranslatable type). */
  private def dimKeyConjunct(dimSide: LogicalPlan, dimKey: AttributeReference,
                             factAttr: AttributeReference)
      : Option[(String, Option[RuntimeBloom])] = {
    val dom = dimDomain(dimSide, dimKey).getOrElse(return None)
    val factCol = factAttr.name
    val range = for {
      l <- GraftDataSource.filterSql(SGte(factCol, dom.lo))
      h <- GraftDataSource.filterSql(SLte(factCol, dom.hi))
    } yield s"$l AND $h"
    val n = dom.n
    val inSet =
      if (n > maxKeys || dom.keys.isEmpty) None
      else GraftDataSource.filterSql(SIn(factCol, dom.keys.toArray))
    val bloom =
      if (inSet.isDefined || n > bloomMaxKeys || dom.keys.isEmpty) None
      else buildBloom(factCol, factAttr.dataType, dom.keys)
    val conjunct = (range, inSet) match {
      case (Some(a), Some(b)) => Some(s"$a AND $b")
      case (a, b) => a.orElse(b)
    }
    // a bloom without at least the range conjunct has no scan to ride
    // (withRuntimeConjunct carries both); range always derives when
    // the type is translatable, so this only drops untranslatable ones
    conjunct.map(c => (c, bloom))
  }

  /** METADATA-tier narrowing for dims the evaluated tier declines
    * (oversized or nondeterministic): when the dim side is itself a
    * graft scan whose join-key column reaches the scan unaliased, the
    * dim TABLE's recorded per-file bounds give a `[min, max]`
    * conjunct from driver metadata alone — no plan-time job, no size
    * cap. Sound as a superset: every key the dim side can produce
    * lies inside its scan's bounds (a pushed dim predicate only
    * narrows — when the dim scan file-pruned, the fold runs over the
    * KEPT files for a tighter range); any filter above, even a
    * nondeterministic one, only shrinks the domain further. Refuses
    * on coverage gaps or unapplied MoR deletes ([[SnapshotTable
    * .fastBounds]] discipline). No IN set and no bloom — those need
    * the evaluated keys. */
  private def metaKeyConjunct(dimSide: LogicalPlan,
                              dimKey: AttributeReference,
                              factAttr: AttributeReference)
      : Option[(String, Option[RuntimeBloom])] = {
    val dimRel = findScan(dimSide).getOrElse(return None)
    val dimScan = GraftV1Wrap.inner(dimRel.scan) match {
      case Some(g: GraftScan) => g
      case _ => return None
    }
    // the dim key must be a REAL column of the dim scan (same exprId
    // through projections — an alias/computed key has no bounds)
    if (!dimRel.output.exists(o =>
      o.exprId == dimKey.exprId && o.name == dimKey.name)) return None
    val spark = SparkSession.active
    // UNION OF RANGES, not one envelope (VERDICT r14 #5): the dim's
    // per-file bounds merged by overlap into ≤8 disjoint ranges — a
    // two-cluster dim key domain then prunes the fact files BETWEEN
    // the clusters, which a single [min, max] never could. Still no
    // plan-time job beyond the sidecar reads the envelope paid.
    val ranges = dimScan.kept match {
      case Some(files) => SnapshotTable.fastBoundsRangesFiles(spark,
        dimScan.root, dimKey.name, dimScan.version, files)
      case None => SnapshotTable.fastBoundsRanges(spark,
        dimScan.root, dimKey.name, dimScan.version)
    }
    val rs = ranges.getOrElse(return None)
    val factCol = factAttr.name
    val parts = rs.map { case (lo, hi) =>
      for {
        l <- GraftDataSource.filterSql(SGte(factCol, lo))
        h <- GraftDataSource.filterSql(SLte(factCol, hi))
      } yield s"($l AND $h)"
    }
    if (parts.exists(_.isEmpty)) return None // untranslatable type
    Some((parts.flatten.mkString("(", " OR ", ")"),
      None: Option[RuntimeBloom]))
  }

  /** A [[RuntimeBloom]] over the dim key domain: ~10 bits/key (≈1%
    * false positives at 4 probes) for the row residual, plus every
    * key pre-hashed at FILE-sidecar geometry. All keys must hash (a
    * key the bloom missed would falsely refute matching fact rows) —
    * any failure returns None and only the range pushes. */
  private def buildBloom(factCol: String,
                         dt: org.apache.spark.sql.types.DataType,
                         keys: Seq[Any]): Option[RuntimeBloom] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val hashes = keys.map(v =>
      SnapshotTable.literalHashes(Literal.create(v, dt), dt))
    if (hashes.exists(_.isEmpty)) return None
    val k = 4
    val mBits = math.max(8192L, ((10L * keys.size + 63) / 64) * 64)
    val words = new Array[Long]((mBits / 64).toInt)
    val fileProbes = hashes.flatten.map { h =>
      SnapshotTable.probeBits(h, mBits, k)
        .foreach(p => words((p / 64).toInt) |= 1L << (p % 64))
      SnapshotTable.fileBloomProbeWords(h)
    }
    Some(RuntimeBloom(factCol, mBits, k, words.toSeq, fileProbes,
      keys.size.toLong))
  }
}

/** Catalyst's own `CostBasedJoinReorder`, re-run AFTER the stats-
  * forwarding wrapper swap exposes connector rowCount + NDV column
  * stats (its scheduled "Join Reorder" batch runs before that swap,
  * so on graft tables it never fires there — see [[graft
  * .GraftExtensions]]). Guarded to fire only while NO scan has been
  * runtime-filtered yet: the extraOptimizations batch is a fixed
  * point, and a re-reorder over narrowed scans (whose row counts and
  * column stats are deliberately withheld — a pushed conjunct changes
  * both) would re-plan the join order from weaker information than
  * the first pass had. */
case class GraftCboReorderRule(session: SparkSession)
    extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    val touched = plan.exists {
      case r: DataSourceV2ScanRelation =>
        GraftV1Wrap.inner(r.scan).exists {
          case g: GraftScan => g.runtimeFiltered
          case _ => false
        }
      case _ => false
    }
    if (touched) plan
    else org.apache.spark.sql.catalyst.optimizer.CostBasedJoinReorder(plan)
  }
}
