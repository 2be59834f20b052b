package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Distributed connected components by iterative min-label propagation —
  * the transitive-closure step that turns pairwise near-dup hits into
  * dedup CLUSTERS (a ~ b, b ~ c ⇒ {a,b,c} share one keeper).
  *
  * Contraction first: a partition-local union-find turns each
  * partition's edges into star edges (vertex, local-minimum id), so a
  * cluster whose edges share a partition is one hop deep before any
  * round runs. The stars have the same components as the edges they
  * replace; only the hop count, and with it the round count, shrinks.
  *
  * Then each round every vertex adopts the smallest label in its
  * neighborhood; rounds ≈ contracted diameter + 1 (near-dup clusters are
  * shallow — a handful). The driver loop only orchestrates (one
  * aggregate per round); all data work is distributed joins partitioned
  * on vertex id, and `localCheckpoint` truncates the lineage so plan
  * size stays O(1) per round instead of growing with iterations. State
  * per round is |V| (id, label) pairs + |E| edges — never materialized
  * on the driver; the union-find holds one partition's vertices.
  */
object Components {

  /** One partition's edges as star edges (v, min id of v's local
    * component), v ≠ root: union-find with the smaller root winning, so
    * every root is its component's minimum. */
  private def localStars(es: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keysIterator.map(v => (v, find(v))).filter { case (v, r) => v != r }
  }

  /** @param edges    undirected edge list, columns (src, dst), Long ids
    * @param vertices one column `id` — includes isolated vertices
    * @return (id, component) where component = min vertex id reachable
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      maxIters: Int = 25): DataFrame = {
    val longs = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val stars = edges.where(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src"), col("dst")).as(longs)
      .mapPartitions(localStars)(longs).toDF("src", "dst")
    // Symmetrized stars + a self-loop per vertex, persisted ONCE and
    // pre-partitioned on the probe key: the big (|E|-sized) side never
    // re-shuffles — each round only the small (id, label) table moves.
    // Self-loops make every vertex its own neighbor, so one join+groupBy
    // computes the next labeling outright (no left-join-back per round).
    val sym = stars
      .unionByName(stars.select(col("dst").as("src"), col("src").as("dst")))
      .unionByName(vertices.select(col("id").as("src"), col("id").as("dst")))
      .distinct()
      .repartition(col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = vertices.select(col("id"), col("id").as("component"))
    // Labels only ever DECREASE (min is monotone), so the label sum is a
    // strictly decreasing potential function: fixpoint ⇔ sum unchanged.
    // One aggregate per round is the round's ONLY action, and it also
    // materializes the round's checkpoint (under AQE the checkpoint call
    // already ran the round's shuffle stages). It sums the ids too:
    // in round 1 that is the potential of the starting labels (id, id),
    // so no job runs before the first round. decimal(38,0) so huge id
    // spaces can't overflow-collide.
    def total(c: String) = coalesce(sum(col(c).cast("decimal(38,0)")), lit(0))
    var cur: java.math.BigDecimal = null
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val next = sym.join(labels, sym("dst") === labels("id"))
        .groupBy(col("src").as("id")).agg(min("component").as("component"))
        .localCheckpoint(eager = false)
      val sums = next.agg(total("component"), total("id")).first()
      if (iter == 0) cur = sums.getDecimal(1)
      converged = sums.getDecimal(0).compareTo(cur) == 0
      cur = sums.getDecimal(0)
      labels = next
      iter += 1
    }
    sym.unpersist(blocking = false)
    if (!converged)
      // truncated labels would silently split one true cluster into
      // several "keepers" — fail instead of returning them
      throw new IllegalStateException(s"[graft] connectedComponents did NOT converge in " +
        s"$maxIters iterations — labels are an upper bound on the true " +
        s"components (clusters deeper than $maxIters hops are split); " +
        s"re-run with a larger maxIters")
    labels
  }

  /** `rounds` synchronous min-label rounds with no convergence check
    * (q129's, which its oracle replays as SQL self-joins), on
    * [[connectedComponents]]' round: the edges plus a self-loop per vertex
    * (the closed neighbourhood), joined once to the labels and reduced
    * with `min`. A round reads the previous labels once, so the rounds
    * stack into one linear plan with no per-round checkpoint, and
    * exchange reuse shuffles the edges once. No contraction: a fixed-round
    * label depends on hop distances.
    * @return (id, component) where component = min id within `rounds` hops */
  def minLabelRounds(vertices: DataFrame, edges: DataFrame, rounds: Int): DataFrame = {
    val closed = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .unionByName(vertices.select(col("id").as("src"), col("id").as("dst")))
    (1 to rounds).foldLeft(vertices.select(col("id"), col("id").as("component"))) {
      (labels, _) => closed.join(labels, col("dst") === col("id"))
        .groupBy(col("src").as("id")).agg(min("component").as("component"))
    }
  }

  /** Large-star / small-star connected components (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * 100-TB CC algorithm, implemented beside the min-label loop above
    * because their round complexities differ in kind: min-propagation
    * needs Θ(diameter) rounds (a 10⁶-hop chain needs 10⁶ rounds), the
    * star alternation contracts the GRAPH each round and converges in
    * O(log² n) worst case / ~log n observed, independent of diameter.
    * Every round is two edge-keyed exchanges (group by node id); no
    * transitive closure, no |V| driver state, no data-sized collect.
    *
    *   large-star: per node u, hook every LARGER neighbor v > u onto
    *     m = min(Γ(u) ∪ {u})           — emits (v, m), strictly v > m
    *   small-star: per node u over hi→lo canonical edges, hook every
    *     smaller neighbor (and u itself) onto m = min(Γ⁻(u) ∪ {u})
    *
    * Fixpoint ⇔ the edge set is a star forest centered at component
    * minima. Convergence test: a cheap (count, Σsrc, Σdst) potential —
    * both operations only ever lower endpoints, so the potential is
    * non-increasing — CONFIRMED by an exact set-equality check
    * (`exceptAll` both ways) whenever the potential stalls, so an
    * equal-sum coincidence mid-run cannot stop the loop early.
    *
    * @return ((id, component) labels — component = min reachable id —
    *         plus the alternation-round count for the bound audit)
    */
  def connectedComponentsStar(vertices: DataFrame, edges: DataFrame,
      maxIters: Int = 40): (DataFrame, Int) = {
    val (e, rounds) = starForest(edges, maxIters)
    (starLabels(vertices, e), rounds)
  }

  /** Labels off a CONVERGED star forest: at fixpoint every non-root
    * carries exactly (v, componentMin); roots appear only as dst,
    * isolated vertices not at all. */
  def starLabels(vertices: DataFrame, forest: DataFrame): DataFrame = {
    val parents = forest.groupBy("src").agg(min("dst").as("component"))
    vertices
      .join(parents, vertices("id") === parents("src"), "left")
      .select(vertices("id"),
        coalesce(col("component"), vertices("id")).as("component"))
  }

  /** The alternation loop itself, returning the CONVERGED star forest —
    * exposed because the forest IS the incremental-CC state: it has the
    * same components as the input graph in O(components) edges, so
    * day-2 edges union onto it and re-converge in O(1) rounds instead
    * of re-running over the full history (q304's contract). The edges
    * are contracted to partition-local stars first, as in
    * [[connectedComponents]]; the converged forest is unique, so only
    * the round count changes. */
  def starForest(edges: DataFrame, maxIters: Int = 40): (DataFrame, Int) = {

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("src"), col("dst"))
        .unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy("src").agg(min("dst").as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      sym.join(mins, "src")
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("src"), col("dst")).as("hi"),
        least(col("src"), col("dst")).as("lo"))
        .filter(col("hi") =!= col("lo"))
      val mins = dir.groupBy("hi").agg(min("lo").as("m"))
      val toLo = dir.join(mins, "hi").where(col("lo") =!= col("m"))
        .select(col("lo").as("src"), col("m").as("dst"))
      val toHi = mins.select(col("hi").as("src"), col("m").as("dst"))
      toLo.unionByName(toHi).distinct()
    }

    def pot(e: DataFrame): (Long, java.math.BigDecimal, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(col("src").cast("decimal(38,0)")),
        sum(col("dst").cast("decimal(38,0)"))).first()
      (r.getLong(0), r.getDecimal(1), r.getDecimal(2))
    }

    val longs = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    var e = edges.where(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src"), col("dst")).as(longs)
      .mapPartitions(localStars)(longs).toDF("src", "dst").distinct()
      .localCheckpoint(eager = false)
    var curPot = pot(e)
    var rounds = 0
    var converged = curPot._1 == 0L // an empty edge set is already a star forest
    while (!converged && rounds < maxIters) {
      val next = smallStar(largeStar(e)).localCheckpoint(eager = false)
      val nextPot = pot(next)
      rounds += 1
      if (nextPot == curPot)
        converged = next.exceptAll(e).isEmpty && e.exceptAll(next).isEmpty
      e = next
      curPot = nextPot
    }
    if (!converged)
      throw new IllegalStateException(s"[graft] connectedComponentsStar did NOT converge " +
        s"in $maxIters alternation rounds — labels may split deep clusters; " +
        s"re-run with a larger maxIters")
    (e, rounds)
  }
}
