package graft

import graft.operators.Components
import org.apache.spark.sql.functions._

class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("chain, pair, and isolated vertex resolve to min-id components") {
    val vertices = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    // 1-2-3 is a chain (transitive closure must merge all three), 4-5 a
    // pair, 6 isolated.
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val got = Components.connectedComponents(vertices, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("long path converges within diameter rounds") {
    val n = 12
    val vertices = (1 to n).map(_.toLong).toDF("id")
    val edges = (1 until n).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
    val got = Components.connectedComponents(vertices, edges)
      .agg(countDistinct("component"), min("component"))
      .as[(Long, Long)].first()
    assert(got == ((1L, 1L)))
  }

  /** `es` over `parts` partitions, edge i in partition i mod parts. */
  private def dealt(es: Seq[(Long, Long)], parts: Int) =
    spark.sparkContext.parallelize(0 until parts, parts)
      .flatMap(p => es.zipWithIndex.collect { case (e, i) if i % parts == p => e })
      .toDF("src", "dst")

  /** Min reachable id per vertex, by a driver-side union-find. */
  private def expectedLabels(n: Int, es: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map((1L to n).map(v => v -> v): _*)
    def find(x: Long): Long = if (parent(x) == x) x else find(parent(x))
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (1L to n).map(v => v -> find(v)).toMap
  }

  test("a loop that does not converge throws instead of returning split labels") {
    val vertices = (1 to 12).map(_.toLong).toDF("id")
    val path = (1 until 12).map(i => (i.toLong, i.toLong + 1))
    val edges = path.toDF("src", "dst")
    // dealt round-robin, no partition holds two adjacent edges, so
    // contraction leaves the path 11 hops deep
    val minLabel = intercept[IllegalStateException](
      Components.connectedComponents(vertices, dealt(path, 4), maxIters = 2))
    assert(minLabel.getMessage.contains("did NOT converge in 2 iterations"))
    val star = intercept[IllegalStateException](
      Components.connectedComponentsStar(vertices, edges, maxIters = 1))
    assert(star.getMessage.contains("did NOT converge in 1 alternation rounds"))
  }

  test("contraction: a path held by one partition converges in two rounds") {
    // the partition's union-find makes the whole path one star: round 1
    // labels every vertex, round 2 finds nothing left to change
    val vertices = (1 to 12).map(_.toLong).toDF("id")
    val path = (1 until 12).map(i => (i.toLong, i.toLong + 1))
    val got = Components.connectedComponents(vertices, dealt(path, 1), maxIters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == expectedLabels(12, path))
  }

  test("contraction keeps the labels of adversarial graphs spread over 4+ partitions") {
    val rnd = new scala.util.Random(56)
    val cases: Seq[(String, Int, Seq[(Long, Long)])] = Seq(
      ("path", 64, (1 until 64).map(i => (i.toLong, i + 1L))),
      ("cycle", 32, (1 until 32).map(i => (i.toLong, i + 1L)) :+ ((32L, 1L))),
      ("star at max id", 20, (1 until 20).map(i => (20L, i.toLong))),
      ("random sparse", 50, Seq.fill(40)((rnd.nextInt(50) + 1L, rnd.nextInt(50) + 1L))),
      ("random sparse", 80, Seq.fill(70)((rnd.nextInt(80) + 1L, rnd.nextInt(80) + 1L))))
    for ((name, n, es) <- cases; parts <- Seq(4, 7)) {
      val vertices = (1 to n).map(_.toLong).toDF("id")
      val edges = dealt(es, parts)
      assert(edges.rdd.getNumPartitions == parts)
      val got = Components.connectedComponents(vertices, edges, maxIters = 80)
        .as[(Long, Long)].collect().toMap
      assert(got == expectedLabels(n, es), s"$name n=$n over $parts partitions")
    }
  }

  test("q56 dedup clusters covers every doc and keepers are cluster minima") {
    val df = SparkEntry.queries("q56_dedup_clusters")(spark, "/root/testdata/sf0.001")
      .cache()
    val nDocs = Tables.documents(spark, "/root/testdata/sf0.001").count()
    assert(df.count() == nDocs)
    // exactly one keeper per cluster, and it is the min doc_id
    val bad = df.groupBy("cluster_id")
      .agg(min("doc_id").as("mn"),
        sum(when(col("action") === "keep", 1).otherwise(0)).as("keepers"))
      .filter(col("keepers") =!= 1 || col("mn") =!= col("cluster_id"))
      .count()
    assert(bad == 0)
    df.unpersist()
  }

  test("large-star/small-star labels agree with min-propagation on adversarial graphs") {
    val rnd = new scala.util.Random(298)
    // the adversarial shapes: a deep path (Θ(diameter) for min-prop),
    // a cycle, a star rooted at the MAX id, plus random sparse graphs
    val cases: Seq[(Int, Seq[(Long, Long)])] = Seq(
      (64, (1 until 64).map(i => (i.toLong, i + 1L))), // path
      (32, (1 until 32).map(i => (i.toLong, i + 1L)) :+ ((32L, 1L))), // cycle
      (20, (1 until 20).map(i => (20L, i.toLong))), // star at max id
      (50, Seq.fill(40)((rnd.nextInt(50) + 1L, rnd.nextInt(50) + 1L))),
      (10, Seq.empty[(Long, Long)])) // all isolated
    cases.foreach { case (n, es) =>
      val vertices = (1 to n).map(_.toLong).toDF("id")
      val edges = es.toDF("src", "dst")
      val expected = Components.connectedComponents(vertices, edges, maxIters = 80)
        .as[(Long, Long)].collect().toMap
      val (starDf, rounds) = Components.connectedComponentsStar(vertices, edges)
      val star = starDf.as[(Long, Long)].collect().toMap
      assert(star == expected, s"n=$n edges=${es.take(8)}…")
      // Kiveris bound: O(log² n) alternation rounds; the observed
      // behavior is ~log n — pin 2·log₂n + 4 so a contraction
      // regression (a round that stops shrinking the graph) trips
      val bound = 2 * (64 - java.lang.Long.numberOfLeadingZeros(n.toLong)) + 4
      assert(rounds <= bound, s"n=$n took $rounds rounds (bound $bound)")
    }
  }

  test("incremental star CC (forest ∪ delta) equals full recompute; the delta step is O(1) rounds") {
    val rnd = new scala.util.Random(304)
    (1 to 5).foreach { _ =>
      val n = 60
      val all = Seq.fill(50)((rnd.nextInt(n) + 1L, rnd.nextInt(n) + 1L))
        .filter(e => e._1 != e._2)
      val (day1, delta) = all.partition(e => e._1 % 7 != 0 && e._2 % 7 != 0)
      val vertices = (1 to n).map(_.toLong).toDF("id")
      val full = Components.connectedComponentsStar(
        vertices, all.toDF("src", "dst"))._1.as[(Long, Long)].collect().toMap
      val (forest, _) = Components.starForest(day1.toDF("src", "dst"))
      val (merged, deltaRounds) = Components.starForest(
        forest.unionByName(delta.toDF("src", "dst")))
      val inc = Components.starLabels(vertices, merged)
        .as[(Long, Long)].collect().toMap
      assert(inc == full, s"incremental labels diverged (delta=${delta.take(5)}…)")
      // the re-convergence bound: the forest keeps components 1 hop
      // deep, so the merged graph's effective diameter is tiny
      assert(deltaRounds <= 8, s"delta step took $deltaRounds rounds")
    }
  }

  test("q189 PageRank nodes are exactly q56's multi-member-cluster docs; ranks bounded") {
    val d = "/root/testdata/sf0.001"
    val pr = SparkEntry.queries("q189_pair_pagerank")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pr.nonEmpty)
    // a doc has a kept edge ⟺ its connected component has ≥ 2 members
    val clusters = SparkEntry.queries("q56_dedup_clusters")(spark, d)
      .select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val multi = clusters.groupBy(_._2).filter(_._2.length >= 2)
      .values.flatten.map(_._1).toSet
    assert(pr.map(_._1).toSet == multi,
      "PageRank node set must equal the multi-member cluster membership")
    pr.foreach { case (id, deg, rank) =>
      assert(deg >= 1, s"doc $id: zero degree")
      // every node receives ≥ 1 micro-unit per in-edge over the base 0.15
      assert(rank > 150000L, s"doc $id: rank $rank at or under the base")
    }
    // the damped total cannot exceed the undamped start mass
    assert(pr.map(_._3).sum <= 1000000L * pr.length)
  }
}
