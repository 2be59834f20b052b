package graft

import org.apache.spark.sql.catalyst.expressions.{And, Expression, IsNotNull}
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, GlobalLimit, Join => LogicalJoin, LocalLimit, LogicalPlan, Filter => LogicalFilter}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

/** Shared physical-plan predicates for the bucketed-artifact contract —
  * ONE definition consumed by PlanShapeSpec and the artifact specs, so a
  * future strengthening (e.g. also rejecting a Sort above single-file
  * buckets, or unwrapping AQE query stages) cannot silently apply to
  * one copy and not the others.
  */
object PlanAudit {

  /** `side` reads a bucketed table and has no shuffle below it — the
    * read-back shape ArtifactStore.bucketed promises for joins on the
    * bucket keys. */
  def bucketedExchangeFreeSide(side: SparkPlan): Boolean =
    side.collectFirst {
      case sc: FileSourceScanExec if sc.relation.bucketSpec.isDefined => sc
    }.isDefined &&
      side.collect { case e: ShuffleExchangeExec => e }.isEmpty

  /** SOME SortMergeJoin in the plan has a bucketed exchange-free side
    * (the positive assertion: the artifact join exists and is laid out
    * right). */
  def hasBucketedSmj(p: SparkPlan): Boolean =
    p.collect { case j: SortMergeJoinExec => j }
      .exists(j => Seq(j.left, j.right).exists(bucketedExchangeFreeSide))

  /** The broadcast-side discipline, generalized (the q153 lesson, then
    * re-learned on q136/q154/q155): a side the developer FORCED to
    * broadcast with a hint, whose subtree scans a CORPUS-SIZED table
    * (`documents` / `embeddings` — the tables that grow to 100 TB),
    * must also contain a node that BOUNDS the broadcast's cardinality
    * before it ships to every executor — an aggregation, a semi/anti
    * join, a limit, or a deliberate Filter (the query-set /
    * probe-budget shape: |Q| rows selected out of the corpus). A hinted
    * broadcast of a bare corpus projection —
    * `broadcast(embeddings.select(id, label))` — has none of these and
    * is a driver-side collect in disguise: it passes at sf0.1 and fails
    * outright at 100×. Returns TRUE iff no such unbounded hinted
    * corpus broadcast exists anywhere in the plan.
    *
    * Audits the OPTIMIZED LOGICAL plan's join hints, not physical
    * broadcast nodes, deliberately: at test scale the planner also
    * chooses broadcast for UN-hinted corpus self-joins purely on size
    * statistics — those flip to shuffle joins on real data (and AQE
    * re-plans at runtime), so they are not design defects. A HINT is
    * the developer overruling statistics forever; that is the only
    * broadcast decision that must prove the side is bounded.
    *
    * Imperfect on purpose: an aggregate whose key is ~unique (q155's
    * cluster-size table) still slips through — cardinality is not a
    * plan-shape property — so reviews still matter; this predicate
    * mechanizes the CATEGORICAL mistake (raw corpus projection under a
    * forced broadcast) that has now been made three times. PlanShapeSpec
    * runs it over every registered query. */
  def boundedBroadcasts(p: LogicalPlan): Boolean =
    unboundedCorpusBroadcasts(p).isEmpty

  /** The offending hinted build-side subtrees behind
    * [[boundedBroadcasts]] — exposed so dev tooling can print WHAT
    * tripped the audit.
    *
    * PATH-sensitive on purpose: a bounding node counts only if it sits
    * BETWEEN the broadcast root and the corpus scan — a corpus
    * projection joined with some aggregated side table is still
    * corpus-sized (the aggregate bounds the OTHER input, not the rows
    * that ship), so `exists(bounding)` over the whole subtree would
    * exempt exactly the shape the guard exists to catch. */
  def unboundedCorpusBroadcasts(p: LogicalPlan): Seq[LogicalPlan] =
    hintedBroadcastSides(p).filter(hasUnboundedCorpusPath)

  /** TRUE iff some path from `p` down to a corpus-table scan passes
    * through no bounding node (aggregate / semi-anti join / limit /
    * nontrivial filter). */
  private def hasUnboundedCorpusPath(p: LogicalPlan): Boolean = p match {
    case r: LogicalRelation => r.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.exists { rp =>
        val s = rp.toString
        s.contains("documents") || s.contains("embeddings")
      }
      case _ => false
    }
    case _: Aggregate => false
    case j: LogicalJoin if j.joinType == LeftSemi || j.joinType == LeftAnti =>
      // the semi/anti join bounds its LEFT output rows only when the
      // right side prunes them; rows still flow from the left, so keep
      // walking the left (a semi-join against a small id set IS the
      // sanctioned bounding shape — but only because the left's rows
      // are filtered; treat it as bounding, matching the documented
      // contract)
      false
    case _: GlobalLimit | _: LocalLimit => false
    // inner joins INFER isnotnull(key) filters onto both sides, so a
    // null-check-only Filter proves nothing: a filter bounds only if
    // some conjunct is more selective than IsNotNull
    case f: LogicalFilter if nontrivialPredicate(f.condition) => false
    case other => other.children.exists(hasUnboundedCorpusPath)
  }

  /** Every join side carrying an explicit BROADCAST hint. After
    * optimization, `broadcast(df)` hints live in `Join.hint`
    * (EliminateResolvedHint folded the ResolvedHint nodes there). */
  private def hintedBroadcastSides(p: LogicalPlan): Seq[LogicalPlan] =
    p.collect { case j: LogicalJoin =>
      Seq(j.hint.leftHint -> j.left, j.hint.rightHint -> j.right).collect {
        case (Some(h), side) if h.strategy.contains(BROADCAST) => side
      }
    }.flatten

  /** The sanctioned zero-key-window allowlist (r13 verdict #4): every
    * query whose physical plan may carry a zero-key WindowExec, with
    * the documented BOUND on that window's input. Classes: O(1) (a
    * scalar/handful-row table), k-bounded (a fixed literal axis),
    * |sources|-bounded (the source axis — 20 distinct on this corpus,
    * TestdataDriftSpec pins the constant), dim-bounded (a static
    * dimension, not the fact table). Anything vocab-/pair-/data-GROWING
    * must instead use Clean.keyedPrefixRank (ordered ranks) or
    * Clean.hashBucketRank (equality-only ids, q329's form), which leave
    * NO zero-key window in the plan.
    * PlanShapeSpec's sweep fails on any site not listed here.
    */
  val zeroKeyWindowAllowlist: Map[String, String] = Map(
    "q07_surrogate_key" ->
      "!dim-bounded: reference-P4 parity rank over the supplier dimension; fact-scale keys use keyedOrderedId/keyedPrefixRank/hashBucketRank",
    "q124_bm25_retrieval" ->
      "limit-bounded: rank over a 20-row TakeOrderedAndProject result",
    "q140_budget_selection" ->
      "k-bounded: prefix over the <=10001-row rounded-quality bucket table",
    "q146_join_skew_profile" ->
      "limit-bounded: rank over the top-5 hot-key list",
    "q169_dsir_importance" ->
      "limit-bounded: rank over a 25-row TakeOrderedAndProject result",
    "q191_lsh_calibration" ->
      "k-bounded: cumulative over the <=PortK+1-row band-match histogram",
    "q214_budget_apportionment" ->
      "|sources|-bounded: largest-remainder rank over the source table (20 distinct here — TestdataDriftSpec pins it)",
    "q251_histogram_selectivity" ->
      "domain-bounded: distinct price-cents of a 1/16 hash sample (price domain, not row count)",
    "q257_mixture_epochs" ->
      "|sources|-bounded: largest-remainder rank over the source table (20 distinct here — TestdataDriftSpec pins it)",
    "q270_hybrid_rrf_fusion" ->
      "!limit-bounded: three rank windows over <=50-row top-k lists and their <=100-row full-outer fusion",
    "q271_randomized_response" ->
      "domain-bounded: index over the distinct event-type axis",
    "q282_curriculum_mixture" ->
      "k-bounded: <=10001-row rounded-score table (4 sites: decile cut + mixture prefix)",
    "q291_gram_novelty_curve" ->
      "k-bounded: cumulative over the 10-row decile table",
    "q302_token_waterfill" ->
      "|sources|-bounded: waterfill level search over the source cap table (20 distinct here — TestdataDriftSpec pins it; 4 sites)",
    "q322_neyman_allocation" ->
      "|sources|-bounded: largest-remainder rank over the source table (20 distinct here — TestdataDriftSpec pins it)",
    "q331_bradley_terry" ->
      "|sources|-bounded: final strength rank over the source table (20 distinct here — TestdataDriftSpec pins it)",
    "q341_session_paths" ->
      "limit-bounded: rank over the top-10 entry-path list (path axis is alphabet^3-bounded anyway)")

  private def nontrivialPredicate(cond: Expression): Boolean = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    conjuncts(cond).exists { case _: IsNotNull => false; case _ => true }
  }
}
