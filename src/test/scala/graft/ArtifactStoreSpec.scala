package graft

import java.nio.file.Files

import graft.sources.ArtifactStore
import graft.tools.Inspect
import org.apache.spark.sql.functions._

/** Contract tests for the store-don't-recompute layer every dedup/ANN
  * artifact now rides on (band tables, SimHash sigs, codebooks).
  */
class ArtifactStoreSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  test("table(): builds exactly once per JVM, read-back equals the build") {
    var builds = 0
    def build = {
      builds += 1
      spark.read.parquet(s"$d/region.parquet").select("r_regionkey", "r_name")
    }
    val key = s"spec-${System.nanoTime}" // unique per test run
    val first = ArtifactStore.table(spark, key, "spec_plain")(build).collect().toSet
    val second = ArtifactStore.table(spark, key, "spec_plain")(build).collect().toSet
    assert(builds == 1, "second request must hit the catalog, not rebuild")
    assert(first == second)
    assert(first == spark.read.parquet(s"$d/region.parquet")
      .select("r_regionkey", "r_name").collect().toSet)
  }

  test("bucketed(): equi-join on the bucket keys reads the artifact with no Exchange") {
    val key = s"spec-${System.nanoTime}"
    val art = ArtifactStore.bucketed(spark, key, "spec_bucketed",
      Seq("l_orderkey"), 4) {
      spark.read.parquet(s"$d/lineitem.parquet").select("l_orderkey", "l_quantity")
    }
    val probe = spark.read.parquet(s"$d/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val plan = probe.join(art.hint("merge"), Seq("l_orderkey"))
      .queryExecution.sparkPlan
    val ok = PlanAudit.hasBucketedSmj(plan)
    assert(ok, "artifact side of the join must be an exchange-free bucketed scan")
  }

  test("day-2 append into a bucketed artifact keeps the join exchange-free") {
    // the incremental contract: a new batch appends MORE files per
    // bucket (Spark routes appended rows to their buckets), the bucket
    // layout survives, and joins on the keys still need no Exchange on
    // the artifact side — the index never re-shuffles as the corpus grows
    val key = s"spec-${System.nanoTime}"
    val li = spark.read.parquet(s"$d/lineitem.parquet").select("l_orderkey", "l_quantity")
    val art = ArtifactStore.bucketed(spark, key, "spec_append",
      Seq("l_orderkey"), 4)(li.filter(col("l_orderkey") % 2 === 0))
    val before = art.count()
    ArtifactStore.append(spark, key, "spec_append", li.filter(col("l_orderkey") % 2 === 1))
    // content: old + appended batch = the full table
    assert(art.count() == li.count() && before < art.count())
    // layout: the join on the bucket key still reads the artifact with
    // no Exchange below it
    val probe = spark.read.parquet(s"$d/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val plan = probe.join(art.hint("merge"), Seq("l_orderkey"))
      .queryExecution.sparkPlan
    val ok = PlanAudit.hasBucketedSmj(plan)
    assert(ok, "appended artifact must still join exchange-free on the bucket keys")
  }

  private def keys(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getString(0)).toSet

  /** Pins `pin` cold, then warm, and returns only a weak reference to the snapshot: its own
    * frame is gone once it returns, so the store is the last strong holder. */
  private def pinColdThenWarm(pin: () => org.apache.spark.sql.DataFrame,
      expected: Set[String]): java.lang.ref.WeakReference[AnyRef] = {
    val first = pin()
    val (second, c) = Inspect.collect(spark)(pin())
    assert(c.jobs == 0, c)
    assert((second eq first) && keys(first) == expected)
    new java.lang.ref.WeakReference(first)
  }

  test("pinned(): an unchanged key returns the snapshot with no job; a changed file rebuilds and drops it") {
    val dir = Files.createTempDirectory("graft-pinned")
    Files.writeString(dir.resolve("dim.csv"), "k\n1\n2\n")
    var builds = 0
    def pin() = ArtifactStore.pinned(spark, dir.toString, "spec_pinned") {
      builds += 1
      spark.read.option("header", "true").csv(dir.resolve("dim.csv").toString)
    }
    val old = pinColdThenWarm(() => pin(), Set("1", "2"))
    assert(builds == 1)

    Files.writeString(dir.resolve("dim.csv"), "k\n1\n2\n3\n")
    assert(keys(pin()) == Set("1", "2", "3") && builds == 2)
    assert((1 to 20).exists { _ => System.gc(); Thread.sleep(50); old.get == null },
      "the stale snapshot is still reachable")
    // nothing lands in the on-disk store
    val store = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft-artifacts-${ProcessHandle.current().pid()}")
    assert(!Files.exists(store) || Files.walk(store).noneMatch(
      _.getFileName.toString.startsWith("graft_spec_pinned")))
  }

  test("pinned(): a new SparkContext builds its own snapshot and a stopped one is not kept") {
    // one SparkContext per JVM: the stop and restart run in a child JVM
    val dir = Files.createTempDirectory("graft-pinned-ctx")
    Files.writeString(dir.resolve("dim.csv"), "k\n1\n")
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val opens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
      "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
      "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin, "-Xmx512m") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.PinnedContextProbe", dir.toString)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() == 0 && out.contains("PROBE OK"), out)
  }
}
