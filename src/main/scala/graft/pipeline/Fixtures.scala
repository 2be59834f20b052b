package graft.pipeline

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import org.apache.commons.io.FileUtils

/** Deterministic offline fixtures mirroring the reference's four sources
  * (FIXTURES.md F1-F4): dirty stock values, the `coper mug` typo, three
  * sales formats (Hungarian-header CSV, headerless TSV, US-date CSV — all
  * gzipped like the originals), an API-shaped drink catalog with fuzzy
  * multiplicity + duplicate keys + nulls, and watermark state files.
  * Used by the pipeline spec and by the q70 demo query (the environment
  * is zero-egress, so the reference's live inputs are reproduced, not
  * fetched).
  */
object Fixtures {

  def writeAll(dir: Path): Map[String, String] = {
    def gz(name: String, body: String): String = {
      val f = dir.resolve(name).toFile
      val w = new BufferedWriter(new OutputStreamWriter(
        new GZIPOutputStream(new FileOutputStream(f)), "UTF-8"))
      try w.write(body) finally w.close()
      f.getAbsolutePath
    }
    def txt(name: String, body: String): String =
      Files.writeString(dir.resolve(name), body).toAbsolutePath.toString

    val barStock = txt("bar_stock.csv",
      """glass_type,stock,bar
        |Cocktail Glass,8,Budapest
        |Cocktail glass,2,New York
        |Highball glass,34 glasses,New York
        |Highball glass,3,Budapest
        |Highball glass,10,London
        |coper mug,45,London
        |Copper Mug,2,Budapest
        |""".stripMargin)

    val budapest = gz("budapest.csv.gz",
      """,TS,ital,költség
        |0,2020-12-26 10:00:00,Mojito,4.0
        |1,2020-12-26 11:00:00,Mojito,4.0
        |2,2020-12-27 12:00:00,Sweet Sangria,5.0
        |""".stripMargin)

    val london = gz("london_transactions.csv.gz",
      "0\t2020-12-26 13:00:00\tMojito\t5.5\n" +
      "1\t2020-12-26 13:05:00\tMystery Drink\t6.0\n")

    val ny = gz("ny.csv.gz",
      """,time,drink,amount
        |0,12-26-2020 22:47,Margarita,7.2
        |1,12-28-2020 09:30,Margarita,7.2
        |2,12-28-2020 09:31,Margarita,7.2
        |""".stripMargin)

    // API-shaped catalog: two Mojito rows with identical 6-col keys but
    // different dateModified (keep-newest dedup), a fuzzy-match extra
    // ("Mojito Extra" matches term "mojito"), a null-dateModified
    // Margarita, and extra fields to prove the 7-column projection.
    val catalog = txt("cocktails_api.json",
      """[
        |{"idDrink":"11000","strDrink":"Mojito","strCategory":"Cocktail","strIBA":"Contemporary Classics","strAlcoholic":"Alcoholic","strGlass":"Highball glass","strInstructions":"muddle mint","dateModified":"2016-11-04 09:17:09"},
        |{"idDrink":"11000","strDrink":"Mojito","strCategory":"Cocktail","strIBA":"Contemporary Classics","strAlcoholic":"Alcoholic","strGlass":"Highball glass","strInstructions":"older copy","dateModified":"2015-01-01 00:00:00"},
        |{"idDrink":"11001","strDrink":"Mojito Extra","strCategory":"Cocktail","strIBA":null,"strAlcoholic":"Alcoholic","strGlass":"Copper mug","strInstructions":"extra","dateModified":"2016-01-01 00:00:00"},
        |{"idDrink":"11007","strDrink":"Margarita","strCategory":"Ordinary Drink","strIBA":"Contemporary Classics","strAlcoholic":"Alcoholic","strGlass":"Cocktail glass","strInstructions":"salt rim","dateModified":null}
        |]""".stripMargin)

    val watermarks = txt("last_update.txt",
      """BUDA_date_max 1900-01-01 00:00:00
        |LON_date_max 1900-01-01 00:00:00
        |NYC_date_max 1900-01-01 00:00:00
        |""".stripMargin)

    Map("barStock" -> barStock, "budapest" -> budapest, "london" -> london,
      "ny" -> ny, "catalog" -> catalog, "watermarks" -> watermarks)
  }

  /** Fixtures at a STABLE absolute path (create-once, then read-only) —
    * q131's DuckDB oracle reads the same raw files the Spark pipeline
    * reads, so the path must be known when the oracle SQL is generated.
    * The watermark file here is never advanced (q131 composes the
    * pipeline stages lazily without running the sinks), so the stable dir
    * stays bit-identical across runs; q70 keeps its fresh temp dir
    * because `run` mutates watermark state by contract.
    */
  lazy val stable: Map[String, String] = synchronized {
    // Concurrent-JVM safe: build in a private temp dir, then one atomic
    // rename publishes it — a reader can never observe torn files, and
    // losing the rename race to another JVM is harmless (theirs is
    // bit-identical). NOTE: any fixture-CONTENT change must bump the
    // version suffix below; readers key only on the directory name, so a
    // stale same-named dir would otherwise be silently reused by BOTH
    // sides of the q131 differential check.
    val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val dir = base.resolve("graft-fixtures-v1")
    if (!Files.exists(dir)) {
      val build = Files.createTempDirectory(base, "graft-fixtures-build")
      try {
        writeAll(build)
        try Files.move(build, dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: java.nio.file.FileSystemException if Files.exists(dir) =>
            () // another JVM published first; ours is deleted below
        }
      } finally
        // whenever the move did NOT succeed (lost race, write failure),
        // the private build dir still exists — remove it so crashed or
        // racing runs don't accumulate fixture copies in tmpdir.
        // Quiet on purpose: a cleanup failure must not mask the original
        // exception
        FileUtils.deleteQuietly(build.toFile)
    }
    Map("barStock" -> "bar_stock.csv", "budapest" -> "budapest.csv.gz",
      "london" -> "london_transactions.csv.gz", "ny" -> "ny.csv.gz",
      "catalog" -> "cocktails_api.json", "watermarks" -> "last_update.txt")
      .map { case (k, f) => k -> dir.resolve(f).toAbsolutePath.toString }
  }

  /** Best-effort recursive delete of `dir` at JVM exit — for query temp
    * dirs whose results are still read LAZILY after the query fn returns
    * (e.g. q70's poc_analysis parquet), which rules out eager deletion
    * inside the fn. Bounded: one hook per pipeline invocation. */
  def deleteOnExit(dir: Path): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => FileUtils.deleteQuietly(dir.toFile)))

  def pipeline(dir: Path, paths: Map[String, String]): CocktailPipeline =
    new CocktailPipeline(
      barStockPath = paths("barStock"),
      budapestPath = paths("budapest"),
      londonPath = paths("london"),
      nyPath = paths("ny"),
      watermarkPath = paths("watermarks"),
      cocktailSource = new FixtureCocktailSource(paths("catalog")))
}
