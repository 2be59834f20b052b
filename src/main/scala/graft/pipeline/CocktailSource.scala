package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}

/** The drink-enrichment source (ref: build_database.py:28-46 — GET
  * thecocktaildb.com/api/json/v1/1/search.php?s={term} per distinct
  * drink).
  *
  * `search` takes the distinct-drink terms as a DataFrame("term") and
  * returns API-shaped rows: one row per (term, matched drink), where a
  * match is the API's fuzzy name-substring semantics. A term with no
  * match contributes no rows (the reference's empty-frame-and-continue
  * error path, build_database.py:34-44).
  */
trait CocktailSource {
  def search(spark: SparkSession, terms: DataFrame): DataFrame
}

/** Offline fixture-backed source (the environment is zero-egress;
  * FIXTURES.md F3). The fixture is a JSON catalog of API-shaped drink
  * objects (extra fields beyond the 7 projected ones included on
  * purpose); search is reproduced as a broadcast substring join —
  * lower(strDrink) contains term — which matches the API's
  * `search.php?s=` fuzzy behavior, including one term returning many
  * drinks and the same drink returned by many terms (dedup A4 collapses
  * those).
  *
  * Scale note: terms come from a distinct() over the fact table — small
  * by construction — so they broadcast; the catalog scan never shuffles.
  */
final class FixtureCocktailSource(fixturePath: String) extends CocktailSource {
  override def search(spark: SparkSession, terms: DataFrame): DataFrame = {
    val catalog = spark.read.schema(Schemas.apiDrink)
      .option("multiLine", "true").json(fixturePath)
    catalog.join(
      broadcast(terms.select(lower(col("term")).as("term"))),
      contains(lower(col("strDrink")), col("term")))
  }
}

/** Live-HTTP implementation of the reference's per-term GET loop (ref:
  * build_database.py:28-46) in distributed form: terms stay a DataFrame;
  * each partition opens ONE `java.net.http.HttpClient` (connection
  * reuse) and issues its GETs sequentially, so total API concurrency is
  * bounded by `fetchPartitions` — a 1000-executor cluster must not turn
  * a courtesy API into a load test. Response bodies are parsed in Spark
  * (from_json + explode), never collected to the driver.
  *
  * Error path parity: a non-200 status, network error, or no-match
  * `{"drinks": null}` response contributes no rows for that term — the
  * reference's empty-frame-and-continue semantics
  * (build_database.py:34-44) — but transient failures (network, 5xx,
  * 429) first get a bounded linear-backoff retry, and [[fetchReport]]
  * exposes per-term status so callers can distinguish no-match from
  * fetch-failed and re-drive the failures. Tested against a loopback
  * fixture HTTP server (HttpCocktailSourceSpec) because this
  * environment is zero-egress; point `baseUrl` at the real API
  * elsewhere.
  */
final class HttpCocktailSource(
    baseUrl: String,
    fetchPartitions: Int = 4,
    timeoutSeconds: Long = 10,
    maxRetries: Int = 2,
    retryBackoffMs: Long = 200) extends CocktailSource {

  /** One row per term: (term, body, http_status, attempts). Transient
    * failures — network errors (http_status = -1), 5xx, and 429 — are
    * retried up to `maxRetries` times with linear backoff; other non-200
    * statuses are permanent and returned as-is. body is null unless the
    * final status is 200, so a flaky run no longer silently collapses
    * into "no match": [[fetchReport]] exposes the distinction and failed
    * terms can be re-driven.
    */
  private[pipeline] def fetchBodies(spark: SparkSession, terms: DataFrame)
      : DataFrame = {
    import spark.implicits._
    // serialize values, not `this`
    val (base, tmo, retries, backoff) =
      (baseUrl, timeoutSeconds, maxRetries, retryBackoffMs)
    // lowercased like FixtureCocktailSource's output: the two trait impls
    // must agree on the term column for mixed-case input (the API's own
    // search is case-insensitive, so results are unaffected)
    terms.select(lower(col("term")).cast("string")).na.drop().as[String]
      .repartition(fetchPartitions)
      .mapPartitions { it =>
        val client = java.net.http.HttpClient.newBuilder()
          // follow 3xx (the API sits behind http->https redirects in the
          // wild); without this a redirect would read as a permanent 4xx-style
          // failure with a null body
          .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
          .connectTimeout(java.time.Duration.ofSeconds(tmo)).build()
        it.map { term =>
          val uri = java.net.URI.create(base + "/search.php?s=" +
            java.net.URLEncoder.encode(term, java.nio.charset.StandardCharsets.UTF_8))
          var attempts = 0
          var status = -1
          var body: String = null
          var terminal = false
          while (!terminal && attempts <= retries) {
            if (attempts > 0) Thread.sleep(backoff * attempts)
            attempts += 1
            try {
              val resp = client.send(
                java.net.http.HttpRequest.newBuilder(uri)
                  .timeout(java.time.Duration.ofSeconds(tmo)).GET().build(),
                java.net.http.HttpResponse.BodyHandlers.ofString())
              status = resp.statusCode()
              if (status == 200) { body = resp.body(); terminal = true }
              else if (status < 500 && status != 429) terminal = true // permanent 4xx
            } catch { case scala.util.control.NonFatal(_) => status = -1 }
          }
          (term, body, status, attempts)
        }
      }.toDF("term", "body", "http_status", "attempts")
  }

  /** One HTTP pass over the terms — (term, body, http_status, attempts).
    * A caller that wants BOTH search rows and a fetch report must call
    * this once (ideally `.persist()` it), then derive each view with
    * [[HttpCocktailSource.searchFrom]] / [[HttpCocktailSource.reportFrom]]
    * — calling `search` and `fetchReport` separately issues every GET
    * (and its retries) twice against a rate-limited API.
    */
  def fetch(spark: SparkSession, terms: DataFrame): DataFrame =
    fetchBodies(spark, terms)

  /** Per-term fetch outcome — (term, fetch_ok, http_status, attempts).
    * The reference logs per-term status (build_database.py:34-44); this
    * surfaces it relationally so callers can tell "no match" (fetch_ok
    * with an empty drinks array) from "fetch failed" and re-drive only
    * the failed terms. Issues its own HTTP pass — to combine with
    * `search` without re-fetching, go through [[fetch]] +
    * [[HttpCocktailSource.reportFrom]].
    */
  def fetchReport(spark: SparkSession, terms: DataFrame): DataFrame =
    HttpCocktailSource.reportFrom(fetchBodies(spark, terms))

  override def search(spark: SparkSession, terms: DataFrame): DataFrame =
    HttpCocktailSource.searchFrom(fetchBodies(spark, terms))
}

object HttpCocktailSource {
  /** API-shaped search rows from an already-[[HttpCocktailSource.fetch]]ed
    * frame — pure transformation, no HTTP.
    */
  def searchFrom(fetched: DataFrame): DataFrame = {
    val respSchema = StructType(Seq(StructField("drinks", ArrayType(Schemas.apiDrink))))
    // explode (not _outer): null body / null drinks array -> zero rows
    fetched.select("term", "body")
      .select(col("term"),
        explode(from_json(col("body"), respSchema).getField("drinks")).as("d"))
      .select(col("term"), col("d.*"))
  }

  /** Fetch report from an already-fetched frame — pure transformation. */
  def reportFrom(fetched: DataFrame): DataFrame =
    fetched.select(col("term"),
      (col("http_status") === 200).as("fetch_ok"),
      col("http_status"), col("attempts"))
}

object CocktailSource {
  /** Project API-shaped rows down to the 7-column cocktails dimension
    * (ref: build_database.py:187-197), with the reference's casts
    * (idDrink int, dateModified timestamp at second precision;
    * build_database.py:208).
    */
  def project(raw: DataFrame): DataFrame =
    raw.select(
      col("idDrink").cast("int").as("idDrink"),
      col("strDrink"), col("strCategory"), col("strIBA"),
      col("strAlcoholic"), col("strGlass"),
      to_timestamp(col("dateModified"), "yyyy-MM-dd HH:mm:ss").as("dateModified"))
}
