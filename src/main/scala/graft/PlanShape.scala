package graft

import scala.collection.immutable.SortedMap

import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastMode, HashPartitioning, IdentityBroadcastMode, Partitioning, RangePartitioning}
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, InputAdapter, ReusedSubqueryExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, HashedRelationBroadcastMode}
import org.apache.spark.sql.execution.window.WindowExec

/** The plan properties a query's design depends on, as a sorted multiset of
  * typed facts (fact -> count) derived from the physical plan — not from
  * explain text. The plan is the AQE initial plan (exchanges inserted,
  * nothing executed), subqueries included. One fact per line:
  *
  *   node <name>            every physical node, minus the codegen wrappers
  *                          WholeStageCodegen, InputAdapter and ColumnarToRow
  *   exchange <partitioning> <ShuffleOrigin> [<output columns>]
  *                          (broadcast: `exchange broadcast <mode> [...]`);
  *                          partition counts are dropped, and hash keys and
  *                          columns sorted (a distinct-aggregate rewrite
  *                          orders them differently from JVM to JVM)
  *   join <node> <join type> [<hint>]
  *                          with the hint of the logical join it plans
  *   partial <function>     the map-side half of a partial aggregate
  *   window keyed | window zero-key [above-aggregate]
  *   scan <table> pushed=[…] partition=[…] schema=<ReadSchema> [bucketed]
  *                          (DSv2: `scan <table> <scan description> schema=…`)
  *   fn <name>              every graft.functions expression
  *
  * Everything host- or run-dependent is normalized away (`norm`): `#id`s,
  * ArtifactStore's `graft_<name>_<8-hex tag>` (-> `graft_<name>`) and
  * directory prefixes of paths. A table is named by its catalog name, else
  * by its directory; either way a pruned partitioned table keeps its name.
  */
object PlanShape {

  type Shape = SortedMap[String, Int]

  def of(plan: SparkPlan): Shape =
    SortedMap.from(nodes(plan).flatMap(facts).groupMapReduce(identity)(_ => 1)(_ + _))

  /** `p` and every node below it, subquery plans included; an adaptive plan
    * contributes its initial plan. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.initialPlan)
    case r: ReusedSubqueryExec => Seq(r)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  private def facts(p: SparkPlan): Seq[String] = p match {
    case _: WholeStageCodegenExec | _: InputAdapter | _: ColumnarToRowExec => Nil
    case _ =>
      val typed: Seq[String] = p match {
        case e: ShuffleExchangeExec =>
          Seq(s"exchange ${partitioning(e.outputPartitioning)} ${e.shuffleOrigin} ${columns(e)}")
        case e: BroadcastExchangeExec => Seq(s"exchange broadcast ${mode(e.mode)} ${columns(e)}")
        case j: BaseJoinExec =>
          // a hint is the design decision even where size statistics pick the same plan
          val hint = j.logicalLink.collect { case l: Join if l.hint != JoinHint.NONE => s" ${l.hint}" }
          Seq(s"join ${j.nodeName} ${j.joinType}${hint.getOrElse("")}")
        case a: BaseAggregateExec =>
          a.aggregateExpressions.filter(_.mode == Partial)
            .map(e => s"partial ${e.aggregateFunction.prettyName}")
        case w: WindowExec =>
          val above = w.child.exists(_.isInstanceOf[BaseAggregateExec])
          Seq(if (w.partitionSpec.nonEmpty) "window keyed"
            else if (above) "window zero-key above-aggregate" else "window zero-key")
        case s: FileSourceScanExec =>
          val table = s.tableIdentifier.map(_.table)
            .getOrElse(s.relation.location.rootPaths.map(_.getName).sorted.mkString(","))
          Seq(s"scan $table pushed=${s.metadata("PushedFilters")} " +
            s"partition=${s.partitionFilters.mkString("[", ", ", "]")} " +
            s"schema=${s.requiredSchema.catalogString}" + (if (s.bucketedScan) " bucketed" else ""))
        case b: BatchScanExec =>
          Seq(s"scan ${b.table.name} ${b.scan.description} schema=${b.scan.readSchema.catalogString}")
        case _ => Nil
      }
      val fns = p.expressions.flatMap(_.collect {
        case e if e.getClass.getName.startsWith("graft.functions.") => s"fn ${e.prettyName}"
      })
      (s"node ${p.nodeName}" +: typed ++: fns).map(norm)
  }

  private def partitioning(p: Partitioning): String = p match {
    case h: HashPartitioning => s"hashpartitioning(${h.expressions.map(_.toString).sorted.mkString(", ")})"
    case r: RangePartitioning => s"rangepartitioning(${r.ordering.mkString(", ")})"
    case other => other.getClass.getSimpleName.stripSuffix("$")
  }

  private def mode(m: BroadcastMode): String = m match {
    case h: HashedRelationBroadcastMode => s"hashed(${h.key.mkString(", ")})"
    case IdentityBroadcastMode => "identity"
    case other => other.getClass.getSimpleName.stripSuffix("$")
  }

  private def columns(p: SparkPlan): String = p.output.map(_.name).sorted.mkString("[", ", ", "]")

  private val ExprId = "#\\d+L?".r
  private val ArtifactTag = "(graft_\\w+)_[0-9a-f]{8}(?![0-9A-Za-z_])".r
  private val DirPrefix = "(?:file:)?/(?:[^/\\s,\\[\\]()]+/)+".r
  private val Space = "\\s+".r

  /** Strips what differs between hosts, runs and build orders. */
  private def norm(s: String): String =
    Space.replaceAllIn(DirPrefix.replaceAllIn(
      ArtifactTag.replaceAllIn(ExprId.replaceAllIn(s, ""), "$1"), ""), " ").trim
}
