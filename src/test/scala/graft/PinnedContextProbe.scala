package graft

import graft.sources.ArtifactStore
import org.apache.spark.sql.SparkSession

/** Drives `ArtifactStore.pinned` across a SparkContext restart, which a
  * JVM that hosts the shared test session cannot do: pins a snapshot,
  * stops the context, checks that no entry still holds it, then pins the
  * same key on a new context. Prints `PROBE OK`; throws otherwise.
  *
  * {{{ java -cp <test classpath> graft.PinnedContextProbe <dir> }}}
  */
object PinnedContextProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    def session() = SparkSession.builder().master("local[1]").appName("pinned-probe")
      .config("spark.ui.enabled", "false").getOrCreate()
    var builds = 0
    def pin(s: SparkSession) = ArtifactStore.pinned(s, dir, "probe") {
      builds += 1
      s.read.option("header", "true").csv(s"$dir/dim.csv")
    }
    val s1 = session()
    s1.sparkContext.setLogLevel("ERROR")
    val a = pin(s1)
    require(ArtifactStore.pinnedContexts == Seq(s1.sparkContext))
    s1.stop()
    require(ArtifactStore.pinnedContexts.isEmpty,
      s"entries still hold a stopped context: ${ArtifactStore.pinnedContexts}")
    val s2 = session()
    s2.sparkContext.setLogLevel("ERROR")
    require(s2.sparkContext ne s1.sparkContext)
    val b = pin(s2)
    require(builds == 2, s"the new context reused a snapshot ($builds builds)")
    require((b ne a) && (b.sparkSession.sparkContext eq s2.sparkContext))
    require(b.count() == 1L)
    require(ArtifactStore.pinnedContexts == Seq(s2.sparkContext))
    s2.stop()
    println("PROBE OK")
  }
}
