package graft.operators

import java.nio.file.Files

import graft.QueryDef
import graft.pipeline.Fixtures
import org.apache.spark.sql.functions._

/** The reference's own workload, end to end: S1-S4+S6 source matrix
  * (gzip CSV with discarded Hungarian header, headerless TSV, US-date
  * CSV, dirty stock CSV, watermark state file), cleaning P1-P8,
  * watermark-incremental union, fixture-backed enrichment with
  * keep-newest dedup, and the §2.8 poc_analysis query.
  */
object PipelineQueries {

  /** The sink-exercising pipeline run: fresh fixture dir, full `run`
    * (parquet tables + watermark write-back + saleID offset contract),
    * then the poc_analysis PARQUET READ-BACK as the result. The
    * read-back of a single from-scratch run is deterministic and equals
    * q131's lazily-composed answer, so it shares q131's DuckDB oracle —
    * the sink path is hash-matched, not just row-counted. The temp dir
    * is removed at JVM exit (the returned DataFrame reads the parquet
    * lazily, so it cannot be removed inside the query fn). */
  val q70 = QueryDef.oracle("q70_cocktails_pipeline", pocOracleSql)(
    (s, _) => {
      val dir = Files.createTempDirectory("graft-q70")
      Fixtures.deleteOnExit(dir)
      val paths = Fixtures.writeAll(dir)
      Fixtures.pipeline(dir, paths).run(s, s"$dir/warehouse")
      s.read.parquet(s"$dir/warehouse/poc_analysis")
    })

  /** The DSv2 catalog source end-to-end: pushed name-search filter (the
    * API-parameter analog), column pruning, 2-way partition split, then
    * the 7-column dimension projection of build_database.py:187-197.
    * HASH-MATCHED since round 13 (the r12 verdict's no_oracle shrink,
    * via q131's pattern): the scan reads the STABLE fixture catalog, so
    * a DuckDB oracle replays the same JSON with the same filter and
    * casts — the answer is verified end to end, while the DSv2-specific
    * behavior (filter pushdown, pruning, partition split) stays
    * spec-asserted in `CocktailCatalogV2Spec`. */
  val q76 = QueryDef.oracle("q76_dsv2_catalog_source", {
    val catalog = Fixtures.stable("catalog")
    s"""SELECT CAST(idDrink AS INTEGER) AS idDrink, strDrink, strCategory,
       |       strIBA, strAlcoholic, strGlass,
       |       CAST(dateModified AS TIMESTAMP) AS dateModified
       |FROM read_json('$catalog',
       |       columns={'idDrink':'VARCHAR','strDrink':'VARCHAR','strCategory':'VARCHAR',
       |                'strIBA':'VARCHAR','strAlcoholic':'VARCHAR','strGlass':'VARCHAR',
       |                'strInstructions':'VARCHAR','dateModified':'VARCHAR'})
       |WHERE contains(strDrink, 'o')""".stripMargin})(
    (s, _) => {
      val catalog = Fixtures.stable("catalog")
      val raw = s.read.format("graft.sources.CocktailCatalogV2")
        .option("path", catalog).option("partitions", "2").load()
        .filter(col("strDrink").contains("o")) // pushed to the scan
      graft.pipeline.CocktailSource.project(raw)
        .orderBy("idDrink", "dateModified")
    })

  /** The flagship pipeline, HASH-MATCHED end to end: poc_analysis computed
    * lazily from the RAW fixture files (4 CSV dialects + JSON catalog +
    * watermark state) with every stage live — per-source parsing,
    * watermark filter, cleaning, lowercase, surrogate keys, fuzzy search
    * join, keep-newest dedup, both broadcast joins, the CASE-no-ELSE —
    * and a full DuckDB replica reading the SAME files as the oracle. q70
    * stays the sink-exercising form (its `run` mutates watermark state by
    * contract, so it uses a fresh dir); this one proves the ANSWER, not
    * just the row count. Fixtures live at a stable path so the oracle SQL
    * can name them.
    */
  private def pocOracleSql: String = {
    val f = Fixtures.stable
    val salesCols =
      "columns={'idx':'BIGINT','dateOfSale':'TIMESTAMP','drink':'VARCHAR','price':'DOUBLE'}"
    s"""WITH bs AS (
       |  SELECT lower(glass_type) AS glassType,
       |         CAST(NULLIF(regexp_extract(stock, '(\\d+)', 1), '') AS INTEGER) AS stock,
       |         lower(bar) AS bar
       |  FROM read_csv('${f("barStock")}', header=true,
       |         columns={'glass_type':'VARCHAR','stock':'VARCHAR','bar':'VARCHAR'})),
       |bsk AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY bar, glassType) - 1 AS BIGINT) AS stockID,
       |               glassType, stock, bar FROM bs),
       |feeds AS (
       |  SELECT idx, dateOfSale, drink, price, 'budapest' AS bar
       |  FROM read_csv('${f("budapest")}', header=true, compression='gzip', $salesCols)
       |  UNION ALL
       |  SELECT idx, dateOfSale, drink, price, 'london' AS bar
       |  FROM read_csv('${f("london")}', header=false, sep='\\t', compression='gzip', $salesCols)
       |  UNION ALL
       |  SELECT idx, dateOfSale, drink, price, 'new york' AS bar
       |  FROM read_csv('${f("ny")}', header=true, compression='gzip',
       |         timestampformat='%m-%d-%Y %H:%M', $salesCols)),
       |fil AS (SELECT * FROM feeds WHERE dateOfSale > TIMESTAMP '1900-01-01 00:00:00'),
       |salk AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY bar, dateOfSale, idx) - 1 AS BIGINT)
       |                  AS saleID,
       |               dateOfSale, lower(drink) AS drink, price, bar
       |        FROM fil),
       |terms AS (SELECT DISTINCT drink AS term FROM salk),
       |cat AS (SELECT * FROM read_json('${f("catalog")}',
       |          columns={'idDrink':'VARCHAR','strDrink':'VARCHAR','strCategory':'VARCHAR',
       |                   'strIBA':'VARCHAR','strAlcoholic':'VARCHAR','strGlass':'VARCHAR',
       |                   'strInstructions':'VARCHAR','dateModified':'VARCHAR'})),
       |hits AS (SELECT DISTINCT CAST(c.idDrink AS INTEGER) AS idDrink, c.strDrink,
       |                c.strCategory, c.strIBA, c.strAlcoholic, c.strGlass,
       |                CAST(c.dateModified AS TIMESTAMP) AS dateModified
       |         FROM cat c JOIN terms t ON contains(lower(c.strDrink), t.term)),
       |ded AS (SELECT * FROM (
       |          SELECT *, ROW_NUMBER() OVER (
       |            PARTITION BY idDrink, strDrink, strCategory, strIBA, strAlcoholic, strGlass
       |            ORDER BY dateModified DESC NULLS LAST, idDrink DESC) AS rn
       |          FROM hits) WHERE rn = 1),
       |ckl AS (SELECT idDrink, lower(strDrink) AS strDrink, lower(strCategory) AS strCategory,
       |               lower(strIBA) AS strIBA, lower(strAlcoholic) AS strAlcoholic,
       |               lower(strGlass) AS strGlass, dateModified FROM ded),
       |grouped AS (SELECT CAST(s.dateOfSale AS DATE) AS dayOfSale, s.drink, s.price, s.bar,
       |                   d.strGlass, CAST(count(s.drink) AS BIGINT) AS drinkCount
       |            FROM salk s LEFT JOIN (SELECT strDrink, strGlass FROM ckl) d
       |              ON s.drink = d.strDrink
       |            GROUP BY 1, 2, 3, 4, 5)
       |SELECT g.dayOfSale, g.drink, g.price, g.bar, g.strGlass, g.drinkCount, st.stock,
       |       CASE WHEN g.drinkCount < st.stock THEN 'NO ISSUE'
       |            WHEN g.drinkCount >= st.stock THEN 'POTENTIAL ISSUE' END AS comment
       |FROM grouped g LEFT JOIN (SELECT glassType, bar AS stockBar, stock FROM bsk) st
       |  ON g.strGlass = st.glassType AND g.bar = st.stockBar""".stripMargin
  }

  val q131 = QueryDef.oracle("q131_pipeline_poc", pocOracleSql)(
    (s, _) => {
      val paths = Fixtures.stable
      val p = Fixtures.pipeline(
        java.nio.file.Paths.get(paths("barStock")).getParent, paths)
      val stockDf = p.barStock(s)
      val salesDf = p.sales(s)
      val ck = p.cocktails(s, salesDf)
      p.pocAnalysis(salesDf, ck, stockDf)
    })

  /** The STREAMING poc, driver-checked: the same raw fixture feeds
    * consumed as arriving-file streams (`streaming/SalesStream` — the
    * identical per-city schema/options as the batch readers), watermarked
    * 1-day tumbling aggregation, stream-static broadcast dimension joins,
    * run to completion in-process. Append mode only emits a day once the
    * watermark closes it, and a watermark computed at the end of one
    * micro-batch finalizes windows in the NEXT — so two late sentinel
    * files are dropped into a COPY of the feed dir (never the shared
    * stable dir) to flush every real day, then filtered back out. The
    * emitted rows are hash-matched against the SAME DuckDB oracle as
    * q131: streaming ≡ batch is a driver-checked fact, not just
    * `SalesStreamSpec`'s assertion. State at scale: one row per open
    * (day, group), evicted at the watermark — see SalesStream's scaladoc.
    */
  val q147 = QueryDef.oracle("q147_streaming_poc", pocOracleSql)(
    (s, _) => {
      import java.nio.file.{Files => JFiles, Paths => JPaths}
      val stable = Fixtures.stable
      val p = Fixtures.pipeline(
        JPaths.get(stable("barStock")).getParent, stable)
      // PIN the static sides (round-13 shave, found by StreamPocBench's
      // lifecycle decomposition): a stream-static join re-evaluates the
      // static plan EVERY micro-batch, and ck is the pipeline's most
      // expensive fragment (fuzzy-search join + keep-newest dedup) — the
      // two-batch lifecycle paid it twice more on top of the eager
      // construction here. persist() materializes it once inside the
      // first micro-batch; unpersisted after the stream stops. This is
      // also the production contract: a pinned dimension snapshot per
      // stream start, refreshed by restarting the stream, not silently
      // re-derived mid-flight.
      val stockDf = p.barStock(s).persist()
      val salesDf = p.sales(s)
      val ck = p.cocktails(s, salesDf).persist()
      val dir = JFiles.createTempDirectory("graft-q147")
      def stage(feed: String, name: String) = {
        val sd = JFiles.createDirectory(dir.resolve(s"stream-$feed"))
        JFiles.copy(JPaths.get(stable(feed)), sd.resolve(name))
        sd
      }
      val buda = stage("budapest", "budapest.csv.gz")
      val lon = stage("london", "london.csv.gz")
      val ny = stage("ny", "ny.csv.gz")
      // first late sentinel is PRE-staged: the initial micro-batch then
      // already advances the watermark past every real day, and a single
      // follow-up sentinel batch flushes them — one fewer streaming
      // round-trip than writing both sentinels after the fact
      JFiles.write(buda.resolve("late1.csv"),
        ",TS,ital,k\n0,2021-06-01 00:00:00,zzz-sentinel,1.0\n".getBytes("UTF-8"))
      val stream = graft.streaming.SalesStream.feed(s, buda.toString, "budapest")
        .unionByName(graft.streaming.SalesStream.feed(s, lon.toString, "london"))
        .unionByName(graft.streaming.SalesStream.feed(s, ny.toString, "new york"))
      // unique sink name: bench/invariance runs invoke this repeatedly
      val table = "poc_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
      // the windowed agg allocates one state-store partition per shuffle
      // partition PER micro-batch — 32 of them for a handful of open days
      // is pure checkpoint overhead, so the stream itself runs at 4
      // (restored after; state count is a per-query constant fixed at
      // first start, which is also why this can't be a global default)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val q = graft.streaming.SalesStream
          .incrementalPoc(stream, ck, stockDf, watermark = "1 day")
          .writeStream.format("memory").queryName(table).outputMode("append").start()
        try {
          q.processAllAvailable()
          // second sentinel arrives as its own batch: the watermark the
          // first batch computed (past all real days) finalizes every
          // real window while this batch runs
          JFiles.write(buda.resolve("late2.csv"),
            ",TS,ital,k\n0,2021-09-01 00:00:00,zzz-sentinel,1.0\n".getBytes("UTF-8"))
          q.processAllAvailable()
        } finally q.stop()
        // conf stays lowered until the stream STOPS: start() is async, so
        // restoring earlier could race the first micro-batch's planning
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", prevParts)
        // the memory sink holds the rows; the pinned dimensions can go
        ck.unpersist(); stockDf.unpersist()
        // the memory-sink table, not the staged files, holds the result —
        // the per-invocation feed copies can go now (bench sweeps would
        // otherwise accumulate them in tmpdir). INSIDE the finally so a
        // failed streaming lifecycle doesn't strand its copy; best-effort
        // so a deletion error can't mask the original exception.
        try {
          val walk = JFiles.walk(dir)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => JFiles.deleteIfExists(p))
          finally walk.close()
        } catch { case _: Throwable => () }
      }
      s.table(table).filter(col("drink") =!= "zzz-sentinel")
    })

  val defs: Seq[QueryDef] = Seq(q70, q76, q131, q147)
}
