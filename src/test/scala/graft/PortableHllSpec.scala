package graft

import graft.functions.PortableHashKernels.P
import graft.functions.PortableHll
import org.apache.spark.sql.functions._

/** The Scala register fold (the streaming gates) and the DataFrame form
  * (the batch queries) of [[PortableHll]] are one kernel: same bucket and
  * rank on edge hashes and edge rank values, same estimate on register
  * sets, including the all-empty one, which estimates 0.
  */
class PortableHllSpec extends SparkSpec {
  import spark.implicits._

  private val streams = PortableHll.Streams(11, 12)

  test("Scala register of edge base hashes equals the DataFrame form") {
    val ths = Seq(0L, 1L, 2L, P - 2, P - 1, 123456789L, 999999937L)
    val df = PortableHll.registers(ths.map(t => (t, t)).toDF("k", "th"), streams)
      .select("k", "bucket", "rho").as[(Long, Long, Long)].collect()
      .map { case (k, bkt, rho) => k -> ((bkt.toInt, rho)) }.toMap
    ths.foreach(t => assert(df(t) == PortableHll.register(t, streams), s"th = $t"))
  }

  test("rank of edge w values equals the DataFrame smear-and-count, w = 0 ranks 47") {
    val ws = Seq(0L, 1L, 2L, 3L, (1L << 23) - 1, 1L << 45, (1L << 46) - 1)
    val got = PortableHll.smear(ws.map(w => (w, w)).toDF("k", "w"), "w")
      .select(col("k"), expr("47L - CAST(bit_count(w) AS BIGINT)"))
      .as[(Long, Long)].collect().toMap
    ws.foreach(w => assert(got(w) == PortableHll.rank(w), s"w = $w"))
    assert(PortableHll.rank(0L) == 47L && PortableHll.rank((1L << 46) - 1) == 1L)
  }

  test("estimate of register sets equals the DataFrame estimator; all-empty gives 0") {
    val rng = new scala.util.Random(7)
    val sets = Seq(
      "empty" -> Array.fill(PortableHll.M)(0L),
      "one" -> Array.tabulate(PortableHll.M)(i => if (i == 5) 3L else 0L),
      "half" -> Array.tabulate(PortableHll.M)(i => if (i % 2 == 0) 1L + rng.nextInt(6) else 0L),
      "full" -> Array.fill(PortableHll.M)(1L + rng.nextInt(12)),
      "w0" -> Array.fill(PortableHll.M)(47L))
    // register rows per set; the empty set's only row has a NULL rank (a
    // NULL base hash), which occupies no register
    val rows = sets.flatMap { case (g, regs) =>
      val occ = regs.zipWithIndex.collect { case (mx, i) if mx > 0 =>
        (g, Option(i.toLong), Option(mx)) }
      if (occ.isEmpty) Seq((g, Option.empty[Long], Option.empty[Long])) else occ.toSeq
    }
    val got = PortableHll.estimate(rows.toDF("g", "bucket", "mx"), Seq("g"))
      .select("g", "n_empty", "est").as[(String, Long, Long)].collect()
      .map { case (g, e, est) => g -> ((e, est)) }.toMap
    sets.foreach { case (g, regs) => assert(got(g) == PortableHll.estimate(regs), g) }
    assert(PortableHll.estimate(Array.fill(PortableHll.M)(0L)) == ((128L, 0L)))
  }
}
