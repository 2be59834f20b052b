package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Surrogate-key generators: the fact-scale keyedOrderedId must be
  * bit-identical to the global-window orderedId (that equality is what
  * lets the pipeline swap one for the other without touching q131's
  * oracle).
  */
class CleanIdSpec extends SparkSpec {

  private def fixture = {
    import spark.implicits._
    // duplicate order-values, a null partition key, a null order key —
    // every tie/null path the window default (asc_nulls_first) exercises
    Seq(
      (Some("b"), Some("2020-01-02"), 1L),
      (Some("a"), Some("2020-01-01"), 2L),
      (Some("a"), Some("2020-01-01"), 0L),
      (None: Option[String], Some("2020-01-01"), 3L),
      (Some("a"), None: Option[String], 4L),
      (Some("b"), Some("2020-01-01"), 5L),
      (None: Option[String], None: Option[String], 6L)
    ).toDF("k", "d", "idx").repartition(3)
  }

  test("keyedOrderedId matches orderedId exactly (ties, null keys, null order cols)") {
    val df = fixture
    val global = Clean.orderedId(df, "id", Seq(col("k"), col("d"), col("idx")))
      .select("k", "d", "idx", "id").collect().map(_.toSeq).toSet
    val keyed = Clean.keyedOrderedId(df, "id", Seq(col("k")), Seq(col("d"), col("idx")))
      .select("k", "d", "idx", "id").collect().map(_.toSeq).toSet
    assert(keyed == global)
  }

  test("keyedOrderedId with a derived sort-prefix key (to_date under a timestamp order)") {
    import spark.implicits._
    val df = Seq(
      ("x", "2020-12-26 10:00:00", 0L), ("x", "2020-12-26 11:00:00", 1L),
      ("x", "2020-12-27 09:00:00", 2L), ("y", "2020-12-26 13:00:00", 0L),
      ("y", "2020-12-26 13:00:00", 1L) // same ts — idx breaks the tie
    ).toDF("bar", "ts", "idx").withColumn("ts", col("ts").cast("timestamp"))
      .repartition(4)
    val global = Clean.orderedId(df, "id", Seq(col("bar"), col("ts"), col("idx")))
      .select("bar", "ts", "idx", "id").collect().map(_.toSeq).toSet
    val keyed = Clean.keyedOrderedId(df, "id",
      Seq(col("bar"), to_date(col("ts"))), Seq(col("ts"), col("idx")))
      .select("bar", "ts", "idx", "id").collect().map(_.toSeq).toSet
    assert(keyed == global)
  }

  test("keyedOrderedId's only global window is over the aggregated key table") {
    val df = fixture
    val plan = Clean.keyedOrderedId(df, "id", Seq(col("k")), Seq(col("d"), col("idx")))
      .queryExecution.sparkPlan
    val globals = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(globals.nonEmpty) // the key-table prefix window exists...
    assert(globals.forall(_.child.exists { // ...and sits above an Aggregate
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
      case _ => false
    }))
  }
}
