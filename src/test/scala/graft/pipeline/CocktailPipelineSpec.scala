package graft.pipeline

import java.nio.file.Files
import java.sql.Date

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.tools.Inspect

/** End-to-end reference-parity pipeline test: golden poc_analysis rows,
  * dirty-data cleaning, fuzzy-search enrichment + keep-newest dedup, and
  * the incremental-watermark contract (README.md:20-22: a second run with
  * advanced watermarks inserts zero sales rows).
  */
class CocktailPipelineSpec extends SparkSpec {

  /** Row counts read back from the stored tables. */
  private def stored(dir: java.nio.file.Path): Map[String, Long] =
    Seq("bar_stock", "global_sales", "cocktails", "poc_analysis")
      .map(t => t -> spark.read.parquet(s"$dir/warehouse/$t").count()).toMap

  private def freshRun() = {
    val dir = Files.createTempDirectory("graft-pipe")
    val paths = Fixtures.writeAll(dir)
    val pipe = Fixtures.pipeline(dir, paths)
    (dir, paths, pipe)
  }

  test("full run produces the golden poc_analysis") {
    val (dir, _, pipe) = freshRun()
    val counts = pipe.run(spark, s"$dir/warehouse")
    assert(counts("bar_stock") == 7)
    assert(counts("global_sales") == 8)
    // catalog: mojito (deduped from 2), mojito extra, margarita
    assert(counts("cocktails") == 3)

    val poc = spark.read.parquet(s"$dir/warehouse/poc_analysis")
      .collect()
      .map(r => (r.getAs[Date]("dayOfSale").toString, r.getAs[String]("drink"),
        r.getAs[Double]("price"), r.getAs[String]("bar"),
        Option(r.getAs[String]("strGlass")), r.getAs[Long]("drinkCount"),
        Option(r.getAs[Any]("stock")), Option(r.getAs[String]("comment"))))
      .toSet
    val expected = Set(
      ("2020-12-26", "mojito", 4.0, "budapest", Some("highball glass"), 2L, Some(3), Some("NO ISSUE")),
      ("2020-12-27", "sweet sangria", 5.0, "budapest", None, 1L, None, None),
      ("2020-12-26", "mojito", 5.5, "london", Some("highball glass"), 1L, Some(10), Some("NO ISSUE")),
      ("2020-12-26", "mystery drink", 6.0, "london", None, 1L, None, None),
      ("2020-12-26", "margarita", 7.2, "new york", Some("cocktail glass"), 1L, Some(2), Some("NO ISSUE")),
      ("2020-12-28", "margarita", 7.2, "new york", Some("cocktail glass"), 2L, Some(2), Some("POTENTIAL ISSUE")))
    assert(poc == expected)
  }

  test("dirty stock strings clean to ints; the coper-mug typo row survives but never joins") {
    val (_, _, pipe) = freshRun()
    val stock = pipe.barStock(spark).collect()
      .map(r => (r.getAs[String]("glassType"), r.getAs[Int]("stock"), r.getAs[String]("bar")))
    assert(stock.contains(("highball glass", 34, "new york"))) // "34 glasses" cleaned
    assert(stock.contains(("coper mug", 45, "london")))
  }

  test("surrogate keys are 0-based and dense across the union") {
    val (_, _, pipe) = freshRun()
    val ids = pipe.sales(spark).select("saleID")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until 8L))
  }

  test("keep-newest dedup keeps the 2016 Mojito catalog row, not the 2015 copy") {
    val (_, _, pipe) = freshRun()
    val salesDf = pipe.sales(spark)
    val dim = pipe.cocktails(spark, salesDf).collect()
    val mojito = dim.filter(_.getAs[String]("strDrink") == "mojito")
    assert(mojito.length == 1)
    assert(mojito.head.getAs[java.sql.Timestamp]("dateModified").toString
      .startsWith("2016-11-04"))
    // fuzzy search pulled in "mojito extra" even though no sale matches it
    assert(dim.exists(_.getAs[String]("strDrink") == "mojito extra"))
  }

  test("second run with advanced watermarks inserts zero sales rows (incremental contract)") {
    val (dir, paths, pipe) = freshRun()
    assert(pipe.run(spark, s"$dir/warehouse") == stored(dir))
    val wmAfterFirst = Watermarks.read(paths("watermarks"))
    assert(wmAfterFirst("BUDA_date_max") == "2020-12-27 12:00:00")
    assert(wmAfterFirst("LON_date_max") == "2020-12-26 13:05:00")
    assert(wmAfterFirst("NYC_date_max") == "2020-12-28 09:31:00")

    val counts2 = pipe.run(spark, s"$dir/warehouse")
    assert(counts2 == stored(dir))
    assert(counts2("global_sales") == 8) // unchanged: nothing newer
    assert(counts2("cocktails") == 3)    // dim snapshot not shrunk by empty batch
    // watermarks unchanged (no non-empty batch to advance them)
    assert(Watermarks.read(paths("watermarks")) == wmAfterFirst)
  }

  test("watermark boundary row is excluded (strict >)") {
    val (dir, paths, pipe) = freshRun()
    // set LON watermark to the first london row's timestamp: only the
    // 13:05 row should load for london; other cities get full loads
    Watermarks.write(paths("watermarks"), Map(
      "BUDA_date_max" -> Watermarks.Epoch,
      "LON_date_max" -> "2020-12-26 13:00:00",
      "NYC_date_max" -> Watermarks.Epoch))
    val salesDf = pipe.sales(spark)
    val london = salesDf.filter(org.apache.spark.sql.functions.col("bar") === "london").collect()
    assert(london.length == 1)
    assert(london.head.getAs[java.sql.Timestamp]("dateOfSale").toString
      .startsWith("2020-12-26 13:05"))
  }

  test("malformed watermark file (the reference's NaT bug, truncated lines) falls back to full load") {
    val f = Files.createTempFile("graft-wm", ".txt")
    Files.writeString(f,
      """BUDA_date_max NaT
        |LON_date_max
        |NYC_date_max 2020-12-28 09:30:00
        |""".stripMargin)
    val wm = Watermarks.read(f.toString)
    // NaT and the valueless line are dropped (epoch fallback = reload);
    // the valid timestamp survives
    assert(wm == Map("NYC_date_max" -> "2020-12-28 09:30:00"))
  }

  test("saleIDs stay unique across appended incremental batches") {
    val (dir, paths, pipe) = freshRun()
    pipe.run(spark, s"$dir/warehouse")
    // rewind one city's watermark so the second run re-loads its rows
    val wm = Watermarks.read(paths("watermarks"))
    Watermarks.write(paths("watermarks"), wm.updated("LON_date_max", Watermarks.Epoch))
    val counts = pipe.run(spark, s"$dir/warehouse")
    assert(counts == stored(dir))
    assert(counts("global_sales") == 10) // 8 + 2 re-loaded london rows
    val sales = spark.read.parquet(s"$dir/warehouse/global_sales")
    assert(sales.select("saleID").distinct().count() == 10) // keys unique across batches
  }

  test("watermark write replaces a pre-existing file whole, never in place") {
    val dir = Files.createTempDirectory("graft-wm")
    val f = dir.resolve("last_update.txt")
    val oldBody = Watermarks.Keys.map(k => s"$k 1900-01-01 00:00:00\n").mkString
    Files.writeString(f, oldBody)
    // a reader that opened the file before the write keeps the old body
    // whole only if the new file replaced it by rename; an in-place
    // rewrite truncates what that reader sees
    val reader = Files.newInputStream(f)
    Watermarks.write(f.toString, Map("LON_date_max" -> "2020-12-26 13:05:00"))
    val seen = try new String(reader.readAllBytes(), "UTF-8") finally reader.close()
    assert(seen == oldBody)
    assert(Files.readString(f) == "LON_date_max 2020-12-26 13:05:00\n")
    val left = Files.list(dir)
    try assert(left.iterator().asScala.map(_.getFileName.toString).toSeq == Seq("last_update.txt"))
    finally left.close()
  }

  test("one fixture run launches at most the pinned number of Spark jobs") {
    val (dir, _, pipe) = freshRun()
    val (_, counts) = Inspect.collect(spark)(pipe.run(spark, s"$dir/warehouse"))
    // 19 measured on local[4]; a read that infers a schema, a count
    // that reads a table back or a separate maxima job each adds jobs
    assert(counts.jobs <= 19, s"${counts.jobs} jobs")
  }
}
