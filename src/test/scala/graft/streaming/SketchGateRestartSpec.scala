package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Restart from checkpoint for the two register-sketch gates: a gate
  * stopped after its first slice and restarted from its checkpoint
  * recovers its per-source registers from the state store, so its final
  * estimates equal an uninterrupted run's over the same slices.
  */
class SketchGateRestartSpec extends SparkSpec {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  private lazy val slices: Seq[Seq[DocStreams.HllDoc]] = {
    val docs = graft.Tables.documents(spark, d)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => DocStreams.HllDoc(r.getLong(0),
        new Timestamp(1700000000000L + r.getLong(0) * 1000L),
        r.getString(1), r.getString(2)))
      .sortBy(_.doc_id).toSeq
    docs.grouped(math.max(1, docs.size / 3)).toSeq
  }

  /** Every row the gate emitted over `slices`, through a parquet sink;
    * with `restart` the query stops after the first slice and a new one
    * resumes from the same checkpoint for the rest. */
  private def run(gate: DataFrame => Dataset[_], restart: Boolean): DataFrame = {
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("gate-restart").toFile
    val ms = MemoryStream[DocStreams.HllDoc]
    def start() = gate(ms.toDF()).writeStream.format("parquet")
      .option("checkpointLocation", s"$dir/ckpt").option("path", s"$dir/out")
      .outputMode("append").start()
    try {
      var q = start()
      slices.zipWithIndex.foreach { case (s, i) =>
        if (restart && i == 1) { q.stop(); q = start() }
        ms.addData(s)
        q.processAllAvailable()
      }
      q.stop()
      spark.read.parquet(s"$dir/out").localCheckpoint()
    } finally FileUtils.deleteQuietly(dir)
  }

  private def finals(rows: DataFrame, est: String): Map[String, (Long, Long)] =
    rows.select(col("source"), col("n_docs_seen"), col(est)).as[(String, Long, Long)]
      .collect().groupBy(_._1).map { case (s, rs) =>
        val last = rs.maxBy(_._2)
        s -> ((last._2, last._3))
      }

  test("hllGate restarted from its checkpoint lands on the uninterrupted estimates") {
    val gate = (df: DataFrame) => DocStreams.hllGate(df)
    val straight = finals(run(gate, restart = false), "est_hll")
    val restarted = finals(run(gate, restart = true), "est_hll")
    assert(straight.nonEmpty)
    assert(restarted == straight)
  }

  test("gramNoveltyGate restarted from its checkpoint lands on the uninterrupted estimates") {
    val gate = (df: DataFrame) => DocStreams.gramNoveltyGate(df)
    val straight = finals(run(gate, restart = false), "est_after")
    val restarted = finals(run(gate, restart = true), "est_after")
    assert(straight.nonEmpty)
    assert(restarted == straight)
  }
}
