package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.sources.ArtifactStore
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** The plan gate. Every registered query is built once at sf0.01 and its
  * [[PlanShape]] must equal the checked-in record `plans/shapes_sf0.01.tsv`
  * (`query<TAB>fact<TAB>count`). A query that gains or loses an exchange,
  * a scan, a broadcast, a partial aggregate or a window fails here with a
  * per-query diff, and the run writes the whole actual record to
  * `target/plan-shapes/shapes_sf0.01.tsv`. To accept an intended plan
  * change, copy that file over the record and give the reason in
  * CHANGES.md.
  */
class PlanShapeSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.01"
  private val record = Paths.get("plans/shapes_sf0.01.tsv")
  private val actualOut = Paths.get("target/plan-shapes/shapes_sf0.01.tsv")

  /** Where a query's design rests on how nodes are arranged, which a fact
    * multiset does not record: checked on the same plan as the shape. */
  private val treePins: Map[String, SparkPlan => Boolean] = Map(
    // candidate generation is a self-join of the stored bucketed bandrows
    // with no exchange on either side
    "q99_portable_minhash_pairs" -> (p => p.collect { case j: SortMergeJoinExec => j }
      .exists(j => Seq(j.left, j.right).forall(PlanAudit.bucketedExchangeFreeSide))),
    // the island and per-doc aggregates reuse the window's doc_id partitioning
    "q175_repeated_spans" -> (p => !p.exists {
      case e: ShuffleExchangeExec => e.exists(_.isInstanceOf[WindowExec])
      case _ => false
    }),
    // the fact-sized (col, bucket) rollup stays a HashAggregate
    "q244_table_stats" -> (p => p.collect { case a: SortAggregateExec => a }
      .forall(_.groupingExpressions.isEmpty)))

  private case class Built(shape: PlanShape.Shape, boundedBroadcasts: Boolean, treePin: Option[Boolean])

  /** The query's AQE initial plan, subqueries included, and its optimized logical plan. */
  private def plans(n: String): (SparkPlan, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = {
    val qe = SparkEntry.queries(n)(spark, d).queryExecution
    (qe.executedPlan match { case a: AdaptiveSparkPlanExec => a.initialPlan; case p => p }, qe.optimizedPlan)
  }

  /** Every registered query, built once; Left is the construction error. */
  private lazy val built: SortedMap[String, Either[String, Built]] =
    SortedMap.from(SparkEntry.queries.keys.toSeq.sorted.map { n =>
      n -> Try {
        val (plan, optimized) = plans(n)
        Built(PlanShape.of(plan), PlanAudit.boundedBroadcasts(optimized), treePins.get(n).map(_(plan)))
      }.toEither.left.map(_.toString)
    })

  private lazy val shapes: SortedMap[String, PlanShape.Shape] = {
    val failed = built.collect { case (n, Left(e)) => s"$n: $e" }
    assert(failed.isEmpty, failed.mkString("queries failed to build:\n", "\n", ""))
    built.collect { case (n, Right(b)) => n -> b.shape }
  }

  private def render(r: SortedMap[String, PlanShape.Shape]): String =
    r.iterator.flatMap { case (q, s) => s.iterator.map { case (f, c) => s"$q\t$f\t$c\n" } }.mkString

  private def read(p: Path): SortedMap[String, PlanShape.Shape] =
    SortedMap.from(Files.readAllLines(p).asScala.filter(_.nonEmpty).map(_.split('\t'))
      .groupBy(_(0)).map { case (q, rows) => q -> SortedMap.from(rows.map(r => r(1) -> r(2).toInt)) })

  test("every registered query's plan shape equals the checked-in record") {
    val expected = read(record)
    if (shapes != expected) {
      Files.createDirectories(actualOut.getParent)
      Files.writeString(actualOut, render(shapes))
      val diff = (expected.keySet ++ shapes.keySet).toSeq.sorted.flatMap { q =>
        val (e, a) = (expected.getOrElse(q, SortedMap.empty[String, Int]),
          shapes.getOrElse(q, SortedMap.empty[String, Int]))
        val lines = (e.keySet ++ a.keySet).toSeq.sorted.flatMap { f =>
          (e.get(f), a.get(f)) match {
            case (x, y) if x == y => Nil
            case (x, y) => x.map(c => s"  - $f\t$c").toSeq ++ y.map(c => s"  + $f\t$c")
          }
        }
        if (lines.isEmpty) Nil else s"$q:" +: lines
      }
      fail(s"plan shapes differ from $record (actual record written to $actualOut):\n" +
        diff.take(400).mkString("\n"))
    }
  }

  test("the vector scan floor's partitioning is reused when shuffle partitions differ from the cores") {
    // Tables.parallelScan's floor, sized by the core count (4 here), cost each of these
    // one more hashpartitioning(vec_id) exchange and sort at 8 shuffle partitions
    val qs = Seq("q170_semantic_dedup", "q198_semantic_decontam", "q228_hard_negatives")
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "8")
    val actual = try qs.map(n => n -> PlanShape.of(plans(n)._1)).toMap finally spark.conf.set(key, prev)
    val expected = read(record)
    qs.foreach { n =>
      val (a, e) = (actual(n).toSet, expected(n).toSet)
      val diff = (a -- e).map(f => s"  + $f") ++ (e -- a).map(f => s"  - $f")
      assert(diff.isEmpty, diff.mkString(s"$n at 8 shuffle partitions:\n", "\n", ""))
    }
  }

  test("the record names exactly the registered queries") {
    assert(read(record).keySet == SparkEntry.queries.keySet)
  }

  test("every zero-key window is allowlisted, and above an aggregate unless its bound says '!'") {
    // the mechanical form of the two-level numbering convention: a data-GROWING
    // renumber must use Clean.keyedPrefixRank or Clean.hashBucketRank, which leave no
    // zero-key window at all
    val allowed = PlanAudit.zeroKeyWindowAllowlist
    val offenders = shapes.collect {
      case (n, s) if s.keys.exists(_.startsWith("window zero-key")) &&
          (!allowed.contains(n) || (s.contains("window zero-key") && !allowed(n).startsWith("!"))) => n
    }
    assert(offenders.isEmpty, s"unlisted or fact-sized zero-key windows: $offenders")
  }

  test("the zero-key window allowlist names only live queries") {
    // a renamed/deleted query must not leave a stale allowlist row
    // (AdviceLedgerSpec's hygiene contract, applied to verdict #4)
    val stale = PlanAudit.zeroKeyWindowAllowlist.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"stale zero-key allowlist entries: $stale")
  }

  test("no query forces a broadcast of an unbounded corpus projection") {
    assert(shapes.nonEmpty)
    val offenders = built.collect { case (n, Right(b)) if !b.boundedBroadcasts => n }
    assert(offenders.isEmpty, s"hinted broadcasts of a bare documents/embeddings projection: $offenders")
  }

  test("the structural pins the shape cannot express hold") {
    assert(shapes.nonEmpty)
    val failed = treePins.keys.filterNot(n => built(n).exists(_.treePin.contains(true)))
    assert(failed.isEmpty, s"structural pins failed: $failed")
  }

  test("q148's banding join reads the stored bucketed index with no exchange on that side") {
    // in q148's own plan the join sits inside a broadcast build side; this
    // audits it on its own DataFrame
    val p = graft.operators.DedupQueries.q148BandingJoin(spark, d).queryExecution.sparkPlan
    assert(PlanAudit.hasBucketedSmj(p))
  }

  test("q344's unpinned lineage tokenizes the corpus once: join-free Generates of one tokenizer") {
    // the pinned query hides its Generate below localCheckpoint boundaries,
    // so the one-token-scan claim is checked on the unpinned builder
    val p = graft.operators.ModelPrepQueries.looSourceValuation(spark, d, pin = false)
      .queryExecution.sparkPlan
    val gens = p.collect { case g: GenerateExec => g }
    assert(gens.nonEmpty)
    assert(gens.forall(_.collect { case j: BaseJoinExec => j }.isEmpty))
    assert(gens.map(_.generator.toString.replaceAll("#\\d+", "")).distinct.size == 1)
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty)
  }

  test("PlanShape renders each fact kind and normalizes ids, artifact tags and paths") {
    val dir = Files.createTempDirectory("plan-shape")
    spark.range(8).select(col("id").as("k"), (col("id") % 2).as("m"))
      .write.partitionBy("m").parquet(s"$dir/shape_part")
    val part = spark.read.parquet(s"$dir/shape_part").filter(col("m") === 1)
    val dim = ArtifactStore.table(spark, dir.toString, "shape_dim")(
      spark.range(4).select(col("id").as("k"), concat(lit("n"), col("id")).as("name")))
    val shape = PlanShape.of(
      part.join(broadcast(dim), "k").groupBy("name").count().queryExecution.executedPlan)
    // one line per rule: no codegen wrappers or #ids; exchanges without partition
    // counts; the join with its hint; the pruned partitioned scan named by its
    // directory; the artifact without its corpus tag
    assert(shape == SortedMap(
      "exchange broadcast hashed(input[0, bigint, false]) [k, name]" -> 1,
      "exchange hashpartitioning(name) ENSURE_REQUIREMENTS [count, name]" -> 1,
      "join BroadcastHashJoin Inner rightHint=(strategy=broadcast)" -> 1,
      "node BroadcastExchange" -> 1,
      "node BroadcastHashJoin" -> 1,
      "node Exchange" -> 1,
      "node Filter" -> 2,
      "node HashAggregate" -> 2,
      "node Project" -> 2,
      "node Scan parquet" -> 1,
      "node Scan parquet spark_catalog.default.graft_shape_dim" -> 1,
      "partial count" -> 1,
      "scan graft_shape_dim pushed=[IsNotNull(k)] partition=[] schema=struct<k:bigint,name:string>" -> 1,
      "scan shape_part pushed=[IsNotNull(k)] partition=[isnotnull(m), (m = 1)] schema=struct<k:bigint>" -> 1),
      shape.mkString("\n"))
  }
}
