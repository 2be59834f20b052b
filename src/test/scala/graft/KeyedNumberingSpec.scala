package graft

import graft.pipeline.Clean
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins the keyed two-level numbering helpers (r13 verdict #1/#4): the
  * scale-safe replacements for zero-key rank/cumsum/ntile windows over
  * data-GROWING inputs. Each test asserts BOTH the semantics (equal to
  * the global-window definition) and the plan shape (no zero-key
  * WindowExec anywhere in the helper's lineage).
  */
class KeyedNumberingSpec extends SparkSpec {
  import spark.implicits._

  private def zeroKeyWindows(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }.size

  test("keyedPrefixRank: rank/cumsum/total equal the global-window definition") {
    val data = (1 to 500).map(i => (s"t${i % 97}", (i * 31 % 113).toLong + 1))
      .groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).sum) }.toSeq
      .toDF("tok", "freq").repartition(7)
    val got = Clean.keyedPrefixRank(data, Seq(col("freq").desc, col("tok")),
      "rnk", cumOf = Some("freq" -> "cum"), totalCol = Some("n"))
    assert(zeroKeyWindows(got) == 0)
    // oracle: the zero-key window definition, fine at test size
    val w = Window.orderBy(col("freq").desc, col("tok"))
    val exp = data.withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("cum", sum("freq").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val g = got.select("tok", "freq", "rnk", "cum")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    val e = exp.select("tok", "freq", "rnk", "cum")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(g.toSeq == e.toSeq)
    val n = got.select("n").distinct().as[Long].collect().toSeq
    assert(n == Seq(data.count()))
  }

  test("keyedPrefixRank: a DECIMAL cum column stays exact past int64 (q350's overflow guard)") {
    // each weight is ~6.1e18; three of them overflow a long running sum
    // on the second row — the exact regime the r14 advisor flagged for
    // q350's Σ freq^0.75 pipeline
    val big = BigDecimal("6148914691236517205") // ~2/3 of Long.MaxValue
    val data = Seq(("a", 3L), ("b", 2L), ("c", 1L)).toDF("tok", "freq")
      .withColumn("w", lit(big.toString).cast("decimal(38,0)"))
    val got = Clean.keyedPrefixRank(data, Seq(col("freq").desc, col("tok")),
      "rnk", cumOf = Some("w" -> "cum"))
    assert(zeroKeyWindows(got) == 0)
    val rows = got.select("rnk", "cum").collect()
      .map(r => (r.getLong(0), BigDecimal(r.getDecimal(1)))).sortBy(_._1)
    val exp = (1 to 3).map(i => (i.toLong, big * i))
    assert(rows.toSeq == exp,
      s"decimal cum must be exact past Long.MaxValue: ${rows.toSeq}")
  }

  test("q265's closed-form NTILE matches Spark's ntile for n % k != 0 and n < k") {
    // the sf fixtures have n % 5 == 0, so the remainder branch is only
    // exercised here: check sizes 4 (n < k), 7, 23, 150
    for (n <- Seq(4, 7, 23, 150)) {
      val df = (1 to n).map(i => (i.toLong, (i * 37 % n).toLong)).toDF("user_id", "v")
      val exp = df.withColumn("nt",
        ntile(5).over(Window.orderBy(col("v"), col("user_id"))).cast("long"))
      val rk = Clean.keyedPrefixRank(df, Seq(col("v"), col("user_id")),
        "__rk", totalCol = Some("__n"))
      val got = rk.withColumn("nt", expr(
        """CAST(CASE WHEN __rk <= (__n % 5) * (__n div 5 + 1)
          |  THEN (__rk - 1) div (__n div 5 + 1) + 1
          |  ELSE (__n % 5) + (__rk - (__n % 5) * (__n div 5 + 1) - 1)
          |       div greatest(__n div 5, 1) + 1 END AS BIGINT)""".stripMargin))
      val g = got.select("user_id", "nt").as[(Long, Long)].collect().sortBy(_._1)
      val e = exp.select("user_id", "nt").as[(Long, Long)].collect().sortBy(_._1)
      assert(g.toSeq == e.toSeq, s"ntile closed form diverged at n=$n")
    }
  }
}
