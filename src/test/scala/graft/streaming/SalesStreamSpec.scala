package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.SparkSpec
import graft.pipeline.Fixtures
import org.apache.spark.sql.Row

/** SalesStream vs the batch pipeline: the incrementally-computed
  * poc_analysis (file-streamed feeds, 1-day windows, append mode) must
  * equal the batch answer row-for-row once the watermark finalizes the
  * days.
  */
class SalesStreamSpec extends SparkSpec {

  private def key(r: Row) = (
    String.valueOf(r.getAs[java.sql.Date]("dayOfSale")),
    r.getAs[String]("drink"), r.getAs[Double]("price"), r.getAs[String]("bar"),
    r.getAs[String]("strGlass"), r.getAs[Long]("drinkCount"),
    Option(r.getAs[Integer]("stock")).map(_.intValue), r.getAs[String]("comment"))

  test("file-streamed sales through 1-day windows equal the batch poc_analysis when days finalize") {
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("graft-sales-stream")
    val paths = Fixtures.writeAll(dir)
    val pipe = Fixtures.pipeline(dir, paths)

    // batch ground truth: same fixtures, same dims
    val stockDf = pipe.barStock(spark)
    val batchSales = pipe.sales(spark)
    val cocktailsDf = pipe.cocktails(spark, batchSales)
    val expected = pipe.pocAnalysis(batchSales, cocktailsDf, stockDf)
      .collect().map(key).toSet
    assert(expected.nonEmpty)

    // each feed file staged into its own watched directory
    def stage(feed: String, fileName: String): Path = {
      val d = Files.createDirectory(dir.resolve(s"stream-$feed"))
      Files.copy(Paths.get(paths(feed)), d.resolve(fileName),
        StandardCopyOption.REPLACE_EXISTING)
      d
    }
    val buda = stage("budapest", "budapest.csv.gz")
    val lon = stage("london", "london.csv.gz")
    val ny = stage("ny", "ny.csv.gz")

    val stream = SalesStream.feed(spark, buda.toString, "budapest")
      .unionByName(SalesStream.feed(spark, lon.toString, "london"))
      .unionByName(SalesStream.feed(spark, ny.toString, "new york"))
    val q = SalesStream.incrementalPoc(stream, cocktailsDf, stockDf, watermark = "1 day")
      .writeStream.format("memory").queryName("poc_inc").outputMode("append").start()
    try {
      q.processAllAvailable()
      // (the file source may split discovery across micro-batches, so
      // some early days can already be finalized here — the contract
      // under test is only the FINAL flushed set below)
      // two late sentinel batches advance the watermark past every real
      // day (the second is needed because the watermark computed at the
      // END of a batch only finalizes windows in the NEXT batch)
      def sentinel(name: String, ts: String): Unit = {
        Files.write(buda.resolve(name),
          s",TS,ital,k\n0,$ts,zzz-sentinel,1.0\n".getBytes("UTF-8"))
        q.processAllAvailable()
      }
      sentinel("late1.csv", "2021-06-01 00:00:00")
      sentinel("late2.csv", "2021-09-01 00:00:00")
      val streamed = spark.table("poc_inc")
        .filter(org.apache.spark.sql.functions.col("drink") =!= "zzz-sentinel")
        .collect().map(key).toSet
      assert(streamed == expected,
        s"streamed != batch:\nonly-streamed: ${(streamed -- expected).take(3)}\n" +
          s"only-batch: ${(expected -- streamed).take(3)}")
    } finally q.stop()
  }
}
