package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

/** Seeded generator of reference-shaped pipeline inputs: three city sales
  * dialects (one gzip file per city per day), a 93-row dirty glass
  * inventory and an API-shaped drink catalog. It also keeps the plain-Scala
  * expectations the output checks compare the warehouse against; they are
  * derived from the generated rows and never from Spark.
  */
object Gen {
  val Cities: Seq[String] = Seq("budapest", "london", "new york")
  val StockBars: Map[String, String] =
    Map("budapest" -> "Budapest", "london" -> "London", "new york" -> "New York")
  val Start: LocalDate = LocalDate.of(2021, 1, 1)

  private val Iso = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val UsMinute = DateTimeFormatter.ofPattern("MM-dd-yyyy HH:mm")

  private val Spirits = Seq("Gin", "Rum", "Vodka", "Tequila", "Whiskey", "Brandy",
    "Mezcal", "Pisco", "Cachaca", "Sake", "Aquavit", "Genever")
  private val Styles = Seq("Fizz", "Sour", "Smash", "Mule", "Collins", "Spritz",
    "Punch", "Flip", "Julep", "Rickey", "Cobbler", "Daisy", "Sling", "Toddy",
    "Swizzle", "Buck", "Crusta", "Fix", "Sangaree", "Cooler")
  private val Glasses = Seq("Cocktail glass", "Highball glass", "Old-fashioned glass",
    "Collins glass", "Copper Mug", "Wine Glass", "Champagne flute", "Coupe Glass",
    "Hurricane glass", "Margarita glass", "Martini Glass", "Shot glass",
    "Whiskey sour glass", "Irish coffee cup", "Punch bowl", "Pint glass",
    "Beer mug", "Brandy snifter", "Cordial glass", "Pousse cafe glass",
    "Nick and Nora Glass", "Balloon Glass", "Mason jar", "Jar", "Pitcher",
    "Beer pilsner", "Parfait glass", "White wine glass", "Coffee mug",
    "Julep tin", "Tiki mug")
  private val Categories = Seq("Ordinary Drink", "Cocktail", "Punch / Party Drink",
    "Shot", "Coffee / Tea", "Homemade Liqueur")
  private val Ibas = Seq("Unforgettables", "Contemporary Classics", "New Era Drinks")

  /** One sold drink: the display name written to the feeds, a per-bar price
    * and a popularity weight.
    */
  final case class Drink(name: String, price: Map[String, Double], weight: Double)

  /** One API-shaped catalog row. */
  final case class Entry(id: Int, drink: String, category: String, iba: String,
      alcoholic: String, glass: String, instructions: String, modified: String) {
    def key: (Int, String, String, String, String, String) =
      (id, drink.toLowerCase, category.toLowerCase, lc(iba), alcoholic.toLowerCase,
        glass.toLowerCase)
  }
  private def lc(s: String): String = if (s == null) null else s.toLowerCase

  /** Per-(day, city) generated sales, kept as counts for the expectations. */
  final case class DayFile(day: LocalDate, city: String, rows: Int,
      maxTs: String, counts: Map[(String, Double), Int], bytes: Long)
}

final class Gen(seed: Long, val rowsPerFile: Int) {
  import Gen._

  private val rng = new java.util.SplittableRandom(seed)

  // --- vocabulary -------------------------------------------------------
  private val combos: IndexedSeq[String] = shuffled(
    for (s <- Spirits; t <- Styles) yield s"$s $t").toIndexedSeq
  /** 60 sold drinks: 50 the catalog knows, 10 it does not. */
  val drinks: IndexedSeq[Drink] = combos.take(60).zipWithIndex.map { case (n, i) =>
    val name = if (i % 3 == 0) n.toUpperCase else if (i % 3 == 1) n else n.toLowerCase
    Drink(name,
      Cities.map(c => c -> (3.0 + rng.nextInt(19) * 0.5)).toMap,
      1.0 / (1 + i) + 0.02)
  }
  private val cumWeights: Array[Double] = drinks.map(_.weight).scanLeft(0.0)(_ + _).tail.toArray

  val catalog: IndexedSeq[Entry] = {
    val out = mutable.ArrayBuffer.empty[Entry]
    var id = 11000
    def entry(name: String, modified: String): Entry = {
      id += 1
      Entry(id, name, pick(Categories),
        if (rng.nextInt(3) == 0) null else pick(Ibas),
        if (rng.nextInt(8) == 0) "Non alcoholic" else "Alcoholic",
        pick(Glasses), s"instructions $id", modified)
    }
    def stamp(): String =
      LocalDateTime.of(2015 + rng.nextInt(3), 1 + rng.nextInt(12), 1 + rng.nextInt(28),
        rng.nextInt(24), rng.nextInt(60), rng.nextInt(60)).format(Iso)
    // the known sold drinks, title-cased as the API returns them
    val byName = combos.take(50).map(n => entry(n, stamp()))
    out ++= byName
    // an older copy under the same six keys: keep-newest drops it
    byName.take(15).foreach(e =>
      out += e.copy(instructions = e.instructions + " (old)", modified = "2014-06-01 00:00:00"))
    // fuzzy-search extras that contain a sold name but are not sold
    byName.slice(10, 30).foreach(e => out += entry(e.drink + " Royale", stamp()))
    // drinks nobody sells, five without a dateModified
    combos.drop(60).take(150).zipWithIndex.foreach { case (n, i) =>
      out += entry(n, if (i < 5) null else stamp())
    }
    out.toIndexedSeq
  }

  /** Six-column key -> newest row: the cocktails dimension a correct
    * enrichment keeps for the given sold terms.
    */
  def dimension(terms: Set[String]): Map[String, String] = {
    val hits = catalog.filter(e => terms.exists(t => e.drink.toLowerCase.contains(t)))
    hits.groupBy(_.key).values.map(_.head)
      .map(e => e.drink.toLowerCase -> e.glass.toLowerCase).toMap
  }

  /** 93 stock rows (31 glasses x 3 bars) with a `34 glasses` value and a
    * `coper mug` misspelling that joins nothing.
    */
  val stock: Map[(String, String), Int] = (for {
    c <- Cities; g <- Glasses
  } yield (g.toLowerCase, c) -> (5 + rng.nextInt(56))).toMap

  private def stockCsv: String = {
    val sb = new StringBuilder("glass_type,stock,bar\n")
    for (c <- Cities; g <- Glasses) {
      val v = stock((g.toLowerCase, c))
      val glass = if (c == "london" && g == "Copper Mug") "coper mug" else g
      val value = if (c == "new york" && g == "Highball glass") s"$v glasses" else v.toString
      sb ++= s"$glass,$value,${StockBars(c)}\n"
    }
    sb.toString
  }

  /** Stock the pipeline can join: the misspelled row joins nothing. */
  def joinableStock(glass: String, city: String): Option[Int] =
    if (city == "london" && glass == "copper mug") None else stock.get((glass, city))

  private def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.size))
  private def shuffled[A](xs: Seq[A]): Seq[A] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
  private def drinkAt(u: Double): Drink = {
    val x = u * cumWeights.last
    val i = java.util.Arrays.binarySearch(cumWeights, x)
    drinks(if (i >= 0) i else math.min(-i - 1, drinks.size - 1))
  }

  // --- writers ------------------------------------------------------------
  def writeStatic(dir: Path): (String, String, Long) = {
    val stockPath = dir.resolve("bar_stock.csv")
    Files.writeString(stockPath, stockCsv)
    val catPath = dir.resolve("cocktails_api.json")
    Files.writeString(catPath, catalog.map(json).mkString("[\n", ",\n", "\n]\n"))
    (stockPath.toString, catPath.toString, Files.size(stockPath) + Files.size(catPath))
  }

  private def json(e: Entry): String = {
    def q(s: String) = if (s == null) "null" else "\"" + s.replace("\"", "\\\"") + "\""
    s"""{"idDrink":"${e.id}","strDrink":${q(e.drink)},"strCategory":${q(e.category)},""" +
      s""""strIBA":${q(e.iba)},"strAlcoholic":${q(e.alcoholic)},"strGlass":${q(e.glass)},""" +
      s""""strInstructions":${q(e.instructions)},"strDrinkThumb":null,"dateModified":${q(e.modified)}}"""
  }

  /** Writes one city's sales for one day as a gzip file in that city's
    * dialect: Budapest with a Hungarian header and ISO seconds, London as
    * headerless TSV, New York as US-date CSV at minute precision.
    */
  def writeDay(file: Path, city: String, day: LocalDate): DayFile = {
    val n = rowsPerFile - rowsPerFile / 20 + rng.nextInt(rowsPerFile / 10 + 1)
    val secs = Array.fill(n)(rng.nextInt(86400)).sorted
    val counts = mutable.HashMap.empty[(String, Double), Int]
    var maxTs: LocalDateTime = null
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(file.toFile), 1 << 16), StandardCharsets.UTF_8))
    try {
      city match {
        case "budapest" => w.write(",TS,ital,költség\n")
        case "new york" => w.write(",time,drink,amount\n")
        case _ =>
      }
      var i = 0
      while (i < n) {
        val d = drinkAt(rng.nextDouble())
        val price = d.price(city)
        val ts0 = day.atStartOfDay().plusSeconds(secs(i).toLong)
        val (ts, text) =
          if (city == "new york") { val t = ts0.withSecond(0); (t, t.format(UsMinute)) }
          else (ts0, ts0.format(Iso))
        val sep = if (city == "london") "\t" else ","
        w.write(s"$i$sep$text$sep${d.name}$sep$price\n")
        val k = (d.name.toLowerCase, price)
        counts(k) = counts.getOrElse(k, 0) + 1
        if (maxTs == null || ts.isAfter(maxTs)) maxTs = ts
        i += 1
      }
    } finally w.close()
    DayFile(day, city, n, maxTs.format(Iso), counts.toMap, Files.size(file))
  }
}

/** What a correct warehouse holds after the landed files are loaded. */
final class Expected(gen: Gen) {
  import Gen._
  private val files = mutable.ArrayBuffer.empty[DayFile]

  def land(f: DayFile): Unit = files += f
  def rows: Long = files.map(_.rows.toLong).sum
  def inputBytes: Long = files.map(_.bytes).sum
  def terms: Set[String] = files.flatMap(_.counts.keys.map(_._1)).toSet

  /** Watermark file lines for the cities that have data. */
  def watermarks: Map[String, String] = {
    val keys = Map("budapest" -> "BUDA_date_max", "london" -> "LON_date_max",
      "new york" -> "NYC_date_max")
    files.groupBy(_.city).map { case (c, fs) => keys(c) -> fs.map(_.maxTs).max }
  }

  def today: LocalDate = files.map(_.day).maxBy(_.toEpochDay)

  /** The owner's read: POTENTIAL ISSUE poc rows of the last seven days,
    * per bar. A poc row is one (day, drink, price, bar) group whose drink
    * count reached the stock of the glass the drink is served in.
    */
  def ownerRead: Map[String, Long] = {
    val glassOf = gen.dimension(terms)
    val from = today.minusDays(6)
    val issues = for {
      f <- files.toSeq if !f.day.isBefore(from)
      ((drink, _), n) <- f.counts.toSeq
      glass <- glassOf.get(drink)
      stock <- gen.joinableStock(glass, f.city)
      if n >= stock
    } yield f.city
    issues.groupBy(identity).map { case (c, xs) => c -> xs.size.toLong }
  }

  def dimensionRows: Long = gen.dimension(terms).size.toLong
}
