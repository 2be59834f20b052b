package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics on the `events` table — the batch-equivalent
  * forms of the Structured Streaming pipeline in graft.streaming (same
  * logical results; streaming variant adds watermark + incremental state).
  */
object EventQueries {

  /** Tumbling 1-hour windowed aggregate — the batch twin of
    * readStream.withWatermark.groupBy(window(...)). Sum in exact cents.
    */
  val q30 = QueryDef.oracle("q30_tumbling_window",
    """SELECT date_trunc('hour', ts) AS win_start, event_type,
      |       count(*) AS n,
      |       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events GROUP BY date_trunc('hour', ts), event_type""".stripMargin)(
    (s, d) => Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("win_start"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("value_cents")))

  /** Sessionization: 30-min inactivity gap per user, assigned with a
    * lag + cumulative-sum window (single shuffle on user_id). This is the
    * batch twin of session_window / flatMapGroupsWithState.
    */
  /** The 30-min-gap session assignment CTEs (`g`, `s` — per-event
    * session ids), shared verbatim by q31's rollup and q317's strict
    * funnel so the two cannot disagree on what a session is. */
  private[graft] val sessionCtes: String =
    """g AS (
      |  SELECT user_id, event_id, ts, event_type,
      |         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |s AS (
      |  SELECT user_id, event_id, ts, event_type,
      |         CAST(SUM(CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800
      |                  THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM g)""".stripMargin

  /** Spark twin of [[sessionCtes]]: events + a session_id column. */
  private def sessionized(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("is_new", when(col("prev_ts").isNull ||
        col("ts").cast("double") - col("prev_ts").cast("double") > 1800, 1).otherwise(0))
      .withColumn("session_id", sum(col("is_new")).over(wc))
  }

  val q31 = QueryDef.oracle("q31_sessionize",
    s"""WITH $sessionCtes
      |SELECT user_id, session_id, count(*) AS n_events,
      |       min(ts) AS session_start, max(ts) AS session_end
      |FROM s GROUP BY user_id, session_id""".stripMargin)(
    (s, d) =>
      sessionized(s, d)
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"), min("ts").as("session_start"),
          max("ts").as("session_end")))

  /** JSON scalar extraction from the props payload column (SURVEY.md
    * §2.9 JSON functions — beyond-reference). */
  val q32 = QueryDef.oracle("q32_json_extract",
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
      |FROM events""".stripMargin)(
    (s, d) => Tables.events(s, d)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("prop_k")))

  /** Event funnel: per user, first ts of each step type, then a CASE on
    * how deep the funnel got (view → click → purchase). */
  val q33 = QueryDef.oracle("q33_funnel",
    """WITH f AS (
      |  SELECT user_id,
      |         min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
      |         min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
      |         min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
      |  FROM events GROUP BY user_id)
      |SELECT user_id, first_view, first_click, first_purchase,
      |       CASE WHEN first_purchase IS NOT NULL THEN 3
      |            WHEN first_click IS NOT NULL THEN 2
      |            WHEN first_view IS NOT NULL THEN 1 ELSE 0 END AS depth
      |FROM f""".stripMargin)(
    (s, d) => Tables.events(s, d)
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("first_view"),
        min(when(col("event_type") === "click", col("ts"))).as("first_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
      .select(col("user_id"), col("first_view"), col("first_click"), col("first_purchase"),
        when(col("first_purchase").isNotNull, 3)
          .when(col("first_click").isNotNull, 2)
          .when(col("first_view").isNotNull, 1)
          .otherwise(0).as("depth")))

  /** Gap-based sessions via the built-in session_window (the streaming
    * package's batch-equivalent path; graft.streaming.EventStreams).
    * Same oracle formulation as q31 minus the session ordinal. */
  val q34 = QueryDef.oracle("q34_session_window",
    """WITH g AS (
      |  SELECT user_id, event_id, ts,
      |         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |s AS (
      |  SELECT user_id, event_id, ts,
      |         SUM(CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800
      |                  THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM g)
      |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
      |       count(*) AS n_events
      |FROM s GROUP BY user_id, session_id""".stripMargin)(
    (s, d) => graft.streaming.EventStreams.sessionWindows(
      Tables.events(s, d), "30 minutes"))

  /** Map functions (§2.9 math/array/map row): per-user event-type map
    * built with map_from_entries over grouped counts, probed with
    * element_at/size. The map stays internal; outputs are scalars (the
    * driver's comparator chokes on complex cells), and the oracle is the
    * equivalent conditional-count formulation — proving the map path
    * computes the same answer as the relational one.
    */
  /** q95's body on an arbitrary events frame — exposed so the spec can
    * feed rows with NULL event_type (the fixtures are null-free, so only
    * a unit test exercises that path).
    */
  private[graft] def typedCountsViaMap(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    events
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"))
      .groupBy("user_id")
      // A null event_type would be a null MAP KEY, which Spark rejects at
      // runtime while the oracle's count(CASE ...) just ignores it. Wrap
      // the entry in when(): collect_list drops nulls, so null-typed rows
      // contribute no entry but the user still gets a row (empty map,
      // n_types=0) — exactly the oracle's semantics for all-null users.
      .agg(map_from_entries(collect_list(
        when(col("event_type").isNotNull, struct(col("event_type"), col("n"))))).as("m"))
      .select(col("user_id"),
        size(col("m")).as("n_types"),
        coalesce(element_at(col("m"), "view"), lit(0L)).as("views"),
        coalesce(element_at(col("m"), "click"), lit(0L)).as("clicks"),
        coalesce(element_at(col("m"), "purchase"), lit(0L)).as("purchases"))

  val q95 = QueryDef.oracle("q95_map_funcs",
    """SELECT user_id,
      |       count(DISTINCT event_type) AS n_types,
      |       count(CASE WHEN event_type = 'view' THEN 1 END) AS views,
      |       count(CASE WHEN event_type = 'click' THEN 1 END) AS clicks,
      |       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases
      |FROM events GROUP BY user_id""".stripMargin)(
    (s, d) => typedCountsViaMap(Tables.events(s, d)))

  /** Daily-rate anomaly detection: each (event_type, day) count scored
    * against its OWN trailing 7-day window via a z-score. Mean and
    * variance are derived from exact integer window sums (Σn, Σn², k) —
    * not stddev_samp, whose Welford accumulation order differs across
    * engines — so the double arithmetic is a fixed formula over exact
    * ints and both engines agree bit-for-bit after rounding. One keyed
    * window shuffle on event_type; output is |types|×|days|.
    */
  val q132 = QueryDef.oracle("q132_rate_anomaly",
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
      |        CAST(count(*) AS BIGINT) AS n
      |      FROM events GROUP BY 1, 2),
      |w AS (SELECT event_type, d, n,
      |        CAST(SUM(n) OVER trail AS BIGINT) AS s,
      |        CAST(SUM(n * n) OVER trail AS BIGINT) AS ss,
      |        CAST(COUNT(n) OVER trail AS BIGINT) AS k
      |      FROM daily
      |      WINDOW trail AS (PARTITION BY event_type ORDER BY d
      |                       ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, d, n, k AS k_prior,
      |       CASE WHEN k >= 2 AND ss - s * s / CAST(k AS DOUBLE) > 0
      |            THEN round((n - s / CAST(k AS DOUBLE))
      |                   / sqrt((ss - s * s / CAST(k AS DOUBLE)) / (k - 1)), 4)
      |       END AS z,
      |       CASE WHEN k >= 2 AND ss - s * s / CAST(k AS DOUBLE) > 0
      |            THEN abs(round((n - s / CAST(k AS DOUBLE))
      |                   / sqrt((ss - s * s / CAST(k AS DOUBLE)) / (k - 1)), 4)) >= 3.0
      |       END AS is_anomaly
      |FROM w""".stripMargin)(
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"))
      val trail = Window.partitionBy("event_type").orderBy("d").rowsBetween(-7, -1)
      val w = daily
        .withColumn("s", sum("n").over(trail))
        .withColumn("ss", sum(col("n") * col("n")).over(trail))
        .withColumn("k", count("n").over(trail))
      val variance = col("ss") - col("s") * col("s") / col("k").cast("double")
      val z = round((col("n") - col("s") / col("k").cast("double"))
        / sqrt(variance / (col("k") - 1)), 4)
      val ok = col("k") >= 2 && variance > 0
      w.select(col("event_type"), col("d"), col("n"), col("k").as("k_prior"),
        when(ok, z).as("z"),
        when(ok, abs(z) >= 3.0).as("is_anomaly"))
    })

  /** Weekly cohort retention: users grouped by first-seen ISO week, each
    * cohort's share of users still active N weeks later. Exact integer
    * counts; the only double is the final ratio. Two keyed aggregations
    * (per-user min, per-(cohort,offset) distinct) — both combine
    * map-side; the cohort-size join is |cohorts|-sized and broadcasts.
    */
  val q133 = QueryDef.oracle("q133_cohort_retention",
    """WITH f AS (SELECT user_id,
      |             CAST(date_trunc('week', min(CAST(ts AS DATE))) AS DATE) AS cohort_week
      |           FROM events GROUP BY 1),
      |a AS (SELECT DISTINCT e.user_id,
      |             CAST(date_trunc('week', CAST(e.ts AS DATE)) AS DATE) AS week
      |      FROM events e),
      |sz AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
      |       FROM f GROUP BY 1),
      |act AS (SELECT f.cohort_week,
      |               CAST((a.week - f.cohort_week) / 7 AS BIGINT) AS week_offset,
      |               CAST(count(DISTINCT a.user_id) AS BIGINT) AS active
      |        FROM a JOIN f USING (user_id) GROUP BY 1, 2)
      |SELECT act.cohort_week, act.week_offset, act.active, sz.cohort_size,
      |       round(act.active / CAST(sz.cohort_size AS DOUBLE), 6) AS retention
      |FROM act JOIN sz USING (cohort_week)""".stripMargin)(
    (s, d) => {
      val ev = Tables.events(s, d)
      val f = ev.groupBy("user_id")
        .agg(to_date(date_trunc("week", min(to_date(col("ts"))))).as("cohort_week"))
      val a = ev.select(col("user_id"),
        to_date(date_trunc("week", to_date(col("ts")))).as("week")).distinct()
      val sz = f.groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
      val act = a.join(f, Seq("user_id"))
        .groupBy(col("cohort_week"),
          (datediff(col("week"), col("cohort_week")) / 7).cast("long").as("week_offset"))
        .agg(countDistinct("user_id").as("active"))
      act.join(broadcast(sz), Seq("cohort_week"))
        .select(col("cohort_week"), col("week_offset"), col("active"), col("cohort_size"),
          round(col("active") / col("cohort_size").cast("double"), 6).as("retention"))
    })

  /** Rolling engagement: per day, DAU, trailing-7-day WAU, and the
    * DAU/WAU stickiness ratio. The (user, day) distinct is the one
    * data-sized shuffle; the trailing window is a range join against the
    * BROADCAST day list (calendar-bounded), so the 7× row expansion
    * carries only (day, user_id) pairs. Exact integer counts; the ratio
    * is one rounded division.
    */
  val q137 = QueryDef.oracle("q137_rolling_active_users",
    """WITH du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |days AS (SELECT DISTINCT d FROM du),
      |roll AS (SELECT days.d AS d, CAST(count(DISTINCT du.user_id) AS BIGINT) AS wau
      |         FROM days JOIN du ON du.d BETWEEN days.d - 6 AND days.d
      |         GROUP BY days.d),
      |dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY 1)
      |SELECT dau.d, dau.dau, roll.wau,
      |       round(dau.dau / CAST(roll.wau AS DOUBLE), 6) AS stickiness
      |FROM dau JOIN roll USING (d)""".stripMargin)(
    (s, d) => {
      val du = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val days = du.select(col("d").as("wd")).distinct()
      val roll = du.join(broadcast(days),
          col("d") >= date_sub(col("wd"), 6) && col("d") <= col("wd"))
        .groupBy(col("wd").as("d"))
        .agg(countDistinct("user_id").as("wau"))
      val dau = du.groupBy("d").agg(count(lit(1)).as("dau"))
      dau.join(roll, Seq("d"))
        .select(col("d"), col("dau"), col("wau"),
          round(col("dau") / col("wau").cast("double"), 6).as("stickiness"))
    })

  /** SEASONALITY-AWARE volume anomaly — the weekday-profile complement
    * of q132's trailing z-score: a Monday spike that is normal FOR
    * MONDAYS shouldn't page anyone, and a quiet Sunday is only quiet
    * against other Sundays. Baseline = the LOWER MEDIAN of the same
    * (event_type, weekday)'s daily counts (the q207 exact-rank
    * convention — no interpolation, no float), weekday computed
    * PORTABLY as epoch-days mod 7 (Spark's dayofweek is 1-based
    * Sunday-first, DuckDB's 0-based — engines disagree, day arithmetic
    * doesn't; wd 0 = Thursday, the 1970-01-01 anchor). A day is
    * anomalous when its count leaves the [base/2, 2·base] band —
    * integer cross-multiplications, no division. Scale: one keyed
    * daily aggregate (map-side combined), one (type, weekday)-keyed
    * rank window over ≤ types·7·days rows, a broadcast-sized baseline
    * join. Output: one row per (event_type, day). HASH-MATCHED.
    */
  val q212 = QueryDef.oracle("q212_seasonal_anomaly",
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
      |        CAST(count(*) AS BIGINT) AS n
      |      FROM events GROUP BY 1, 2),
      |wd AS (SELECT event_type, d, n,
      |         CAST(datediff('day', DATE '1970-01-01', d) % 7 AS BIGINT) AS weekday
      |       FROM daily),
      |r AS (SELECT event_type, d, n, weekday,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY event_type, weekday
      |          ORDER BY n, d) AS BIGINT) AS rn,
      |        CAST(COUNT(*) OVER (PARTITION BY event_type, weekday) AS BIGINT)
      |          AS cnt
      |      FROM wd),
      |base AS (SELECT event_type, weekday, n AS base_med FROM r
      |         WHERE rn = (cnt + 1) // 2)
      |SELECT w.event_type, w.d, w.n, w.weekday, b.base_med,
      |       w.n > 2 * b.base_med AS spike,
      |       w.n * 2 < b.base_med AS quiet
      |FROM wd w JOIN base b USING (event_type, weekday)""".stripMargin)(
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"))
        .withColumn("weekday",
          (datediff(col("d"), to_date(lit("1970-01-01"))) % 7).cast("long"))
      val w = Window.partitionBy("event_type", "weekday")
      val base = daily
        .withColumn("rn", row_number().over(w.orderBy(col("n"), col("d"))).cast("long"))
        .withColumn("cnt", count(lit(1)).over(w))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("event_type"), col("weekday"), col("n").as("base_med"))
      daily.join(broadcast(base), Seq("event_type", "weekday"))
        .select(col("event_type"), col("d"), col("n"), col("weekday"),
          col("base_med"),
          (col("n") > col("base_med") * 2).as("spike"),
          (col("n") * 2 < col("base_med")).as("quiet"))
    })

  /** BENFORD first-digit audit — the forensic-accounting integrity
    * check (Benford 1938; Nigrini's fraud screen) applied to the event
    * value stream: per event_type, the observed first-significant-digit
    * distribution of |value| in exact ppm next to Benford's expected
    * log₁₀(1+1/d) mass. Fabricated, capped, or unit-mixed feeds bend
    * this curve long before totals look wrong — the distributional
    * sibling of q135's row-level integrity audit. Float-free pipeline:
    * values quantize to integer CENTS (the repo's percentile
    * convention), the first digit comes from a 15-step threshold LADDER
    * (x ≥ 10ᵏ ⇒ digit = x div 10ᵏ) — no log10 at a power-of-10
    * boundary for libms to disagree on — and the expected masses are
    * shared integer ppm literals. Zero-cent values carry no leading
    * digit and are excluded (counted nowhere, like Benford's own
    * treatment); the (event_type × digit 1..9) grid is completed with
    * zero rows so absent digits are visible. Scale shape: scan-stage
    * digit extraction + ONE map-side-combined (event_type, digit)
    * count + a 9-row broadcast grid/constants join — nothing else
    * moves. HASH-MATCHED. */
  val q230 = {
    val benfordPpm =
      Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L, 57992L,
        51153L, 45757L)
    val caseSql = (14 to 1 by -1).map { k =>
      val p = math.pow(10, k).toLong
      s"WHEN x >= $p THEN x // $p"
    }.mkString("CASE ", " ", " ELSE x END")
    val caseSpark = (14 to 1 by -1).map { k =>
      val p = math.pow(10, k).toLong
      s"WHEN x >= ${p}L THEN x div ${p}L"
    }.mkString("CASE ", " ", " ELSE x END")
    val valsSql = benfordPpm.zipWithIndex
      .map { case (p, i) => s"(${i + 1}, $p)" }.mkString(", ")
    QueryDef.oracle("q230_benford_audit",
      s"""WITH c AS (SELECT event_type,
         |             ABS(CAST(round(value * 100) AS BIGINT)) AS x
         |           FROM events
         |           WHERE value IS NOT NULL AND round(value * 100) <> 0),
         |dg AS (SELECT event_type, $caseSql AS digit FROM c),
         |obs AS (SELECT event_type, digit, CAST(count(*) AS BIGINT) AS n
         |        FROM dg GROUP BY 1, 2),
         |tot AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS total
         |        FROM obs GROUP BY 1),
         |grid AS (SELECT t.event_type, b.digit, b.exp_ppm, t.total
         |         FROM tot t CROSS JOIN (VALUES $valsSql) AS b(digit, exp_ppm))
         |SELECT g.event_type, CAST(g.digit AS BIGINT) AS digit,
         |       COALESCE(o.n, 0) AS n,
         |       CAST(COALESCE(o.n, 0) * 1000000 // g.total AS BIGINT) AS obs_ppm,
         |       CAST(g.exp_ppm AS BIGINT) AS exp_ppm,
         |       CAST(COALESCE(o.n, 0) * 1000000 // g.total - g.exp_ppm
         |            AS BIGINT) AS dev_ppm
         |FROM grid g LEFT JOIN obs o
         |  ON g.event_type = o.event_type AND g.digit = o.digit""".stripMargin)(
      (s, d) => {
        import s.implicits._
        val c = Tables.events(s, d)
          .filter(col("value").isNotNull &&
            round(col("value") * 100) =!= 0)
          .select(col("event_type"),
            abs(round(col("value") * 100).cast("long")).as("x"))
        val obs = c.withColumn("digit", expr(caseSpark))
          .groupBy("event_type", "digit").agg(count(lit(1)).as("n"))
        val tot = obs.groupBy("event_type").agg(sum("n").as("total"))
        val bench = benfordPpm.zipWithIndex.map { case (p, i) =>
          ((i + 1).toLong, p)
        }.toDF("digit", "exp_ppm")
        val grid = tot.crossJoin(broadcast(bench))
        grid.join(obs, Seq("event_type", "digit"), "left")
          .select(col("event_type"), col("digit"),
            coalesce(col("n"), lit(0L)).as("n"),
            expr("CAST(COALESCE(n, 0L) * 1000000 div total AS BIGINT)")
              .as("obs_ppm"),
            col("exp_ppm"),
            expr("CAST(COALESCE(n, 0L) * 1000000 div total - exp_ppm" +
              " AS BIGINT)").as("dev_ppm"))
      })
  }

  /** SAMPLED-PERCENTILE error audit — the number that prices the
    * engine's deterministic hash sampling (q45's md5 convention) for
    * STATISTICS rather than row selection: per event_type, the exact
    * lower median of integer cents next to the same median computed on
    * the 1/16 md5(event_id) subsample, with the drift in exact ppm.
    * This is the decision input for "can the daily dashboard run on
    * the sample?" — at 100 TB the subsample is what monitoring
    * actually scans, and this audit MEASURES the error instead of
    * assuming the folklore √n bound. All integer: cents quantization
    * (the percentile convention), rank-based lower median (q212's
    * convention — no interpolation, no float), md5 membership identical
    * in both engines. A type whose sample went empty survives via the
    * LEFT JOIN with NULL sample columns (visible, not dropped). Scale
    * shape: one scan + two event_type-keyed rank windows (the sample
    * side windows 1/16 of the rows); output one row per event_type.
    * HASH-MATCHED. */
  val q233 = QueryDef.oracle("q233_sampled_percentile_error",
    """WITH c AS (SELECT event_id, event_type,
      |             CAST(round(value * 100) AS BIGINT) AS cents
      |           FROM events WHERE value IS NOT NULL),
      |r AS (SELECT event_type, cents,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY event_type
      |          ORDER BY cents, event_id) AS BIGINT) AS rn,
      |        CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS cnt
      |      FROM c),
      |ex AS (SELECT event_type, cents AS med_exact, cnt AS n_rows
      |       FROM r WHERE rn = (cnt + 1) // 2),
      |sc AS (SELECT event_id, event_type, cents FROM c
      |       WHERE substr(md5(CAST(event_id AS VARCHAR)), 32, 1) = '0'),
      |rs AS (SELECT event_type, cents,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY event_type
      |           ORDER BY cents, event_id) AS BIGINT) AS rn,
      |         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS cnt
      |       FROM sc),
      |sm AS (SELECT event_type, cents AS med_sample, cnt AS n_sample
      |       FROM rs WHERE rn = (cnt + 1) // 2)
      |SELECT ex.event_type, ex.n_rows, ex.med_exact,
      |       sm.n_sample, sm.med_sample,
      |       ABS(sm.med_sample - ex.med_exact) AS abs_err,
      |       CASE WHEN ex.med_exact = 0 THEN NULL
      |            ELSE CAST((sm.med_sample - ex.med_exact) * 1000000
      |                      // ex.med_exact AS BIGINT) END AS err_ppm
      |FROM ex LEFT JOIN sm USING (event_type)""".stripMargin)(
    (s, d) => {
      val c = Tables.events(s, d)
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
      def lowerMedian(df: org.apache.spark.sql.DataFrame,
          medName: String, nName: String) = {
        val w = Window.partitionBy("event_type")
        df.withColumn("rn",
            row_number().over(w.orderBy(col("cents"), col("event_id")))
              .cast("long"))
          .withColumn("cnt", count(lit(1)).over(w))
          .filter(col("rn") === expr("(cnt + 1) div 2"))
          .select(col("event_type"), col("cents").as(medName),
            col("cnt").as(nName))
      }
      val ex = lowerMedian(c, "med_exact", "n_rows")
      val sm = lowerMedian(
        c.filter(substring(md5(col("event_id").cast("string")), 32, 1) === "0"),
        "med_sample", "n_sample")
      ex.join(sm, Seq("event_type"), "left")
        .select(col("event_type"), col("n_rows"), col("med_exact"),
          col("n_sample"), col("med_sample"),
          abs(col("med_sample") - col("med_exact")).as("abs_err"),
          when(col("med_exact") === 0, lit(null).cast("long"))
            .otherwise(expr(
              "CAST((med_sample - med_exact) * 1000000 div med_exact AS BIGINT)"))
            .as("err_ppm"))
    })

  /** INTER-ARRIVAL time histogram — the traffic-shape profile under
    * every sessionization/capacity decision the events family makes
    * (q31's 30-minute gap, q137's rolling windows): per event_type, the
    * distribution of per-user gaps between consecutive events, binned
    * to power-of-two seconds with the same float-free bit-smear kernel
    * as q224/q225 (no log2 seam), capped at 2²⁰ s ≈ 12 days. A bimodal
    * histogram (burst mode + return mode) validates the session gap; a
    * fat sub-second mode flags machine traffic. Exact integers all the
    * way: epoch seconds by date_diff, gaps from a user-keyed lag window
    * (ORDER BY ts, event_id — deterministic under ts ties), share in
    * exact ppm of the type's gap total. First events carry no gap and
    * are excluded by the NULL lag on both engines. Scale shape: one
    * user-keyed lag window + one map-side-combined (type, bucket)
    * rollup + a \|types\|-row broadcast total. HASH-MATCHED. */
  val q234 = QueryDef.oracle("q234_interarrival_histogram",
    """WITH e AS (SELECT event_type, user_id, event_id,
      |             CAST(date_diff('second', TIMESTAMP '1970-01-01', ts)
      |                  AS BIGINT) AS es
      |           FROM events),
      |g AS (SELECT event_type,
      |        es - LAG(es) OVER (PARTITION BY user_id
      |                           ORDER BY es, event_id) AS gap
      |      FROM e),
      |c AS (SELECT event_type, LEAST(gap, 1048576) AS gap FROM g
      |      WHERE gap IS NOT NULL),
      |v AS (SELECT event_type, gap,
      |        CASE WHEN gap <= 1 THEN gap ELSE gap - 1 END AS v FROM c),
      |s1 AS (SELECT event_type, gap, v | (v >> 1) AS v FROM v),
      |s2 AS (SELECT event_type, gap, v | (v >> 2) AS v FROM s1),
      |s3 AS (SELECT event_type, gap, v | (v >> 4) AS v FROM s2),
      |s4 AS (SELECT event_type, gap, v | (v >> 8) AS v FROM s3),
      |s5 AS (SELECT event_type, gap, v | (v >> 16) AS v FROM s4),
      |b AS (SELECT event_type,
      |        CASE WHEN gap <= 1 THEN gap ELSE v + 1 END AS bucket FROM s5),
      |h AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n
      |      FROM b GROUP BY 1, 2),
      |t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS total FROM h GROUP BY 1)
      |SELECT h.event_type, h.bucket, h.n,
      |       CAST(h.n * 1000000 // t.total AS BIGINT) AS share_ppm
      |FROM h JOIN t USING (event_type)""".stripMargin)(
    (s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_type"), col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("es"))
      val w = Window.partitionBy("user_id").orderBy(col("es"), col("event_id"))
      val c = e
        .withColumn("gap", col("es") - lag("es", 1).over(w))
        .filter(col("gap").isNotNull)
        .select(col("event_type"), least(col("gap"), lit(1048576L)).as("gap"))
      val v0 = c.withColumn("v",
        when(col("gap") <= 1, col("gap")).otherwise(col("gap") - 1))
      val b = graft.functions.PortableHll.smear(v0, "v")
        .select(col("event_type"),
          when(col("gap") <= 1, col("gap")).otherwise(col("v") + 1)
            .as("bucket"))
      val h = b.groupBy("event_type", "bucket").agg(count(lit(1)).as("n"))
      val t = h.groupBy("event_type").agg(sum("n").as("total"))
      h.join(broadcast(t), Seq("event_type"))
        .select(col("event_type"), col("bucket"), col("n"),
          expr("CAST(n * 1000000 div total AS BIGINT)").as("share_ppm"))
    })

  /** CONVERSION-LATENCY histogram — the targeted form of q234's
    * inter-arrival profile, asked the way a funnel owner asks it: of
    * users who VIEWED, how long until their first PURCHASE at or after
    * that view, binned to power-of-two seconds (the shared bit-smear
    * kernel, 2²⁰ s cap)? Complements q133's step-count funnel — counts
    * say whether users convert, this says how fast, which sets
    * attribution windows and retargeting delays. Non-converters (a
    * first view, no later purchase) are the `-1` sentinel bucket, kept
    * in the table rather than silently dropped; share_ppm is over
    * converters only (NULL on the sentinel). Exact integers: epoch
    * seconds, MIN aggregates, integer gaps. Scale shape: two
    * user-keyed MIN aggregates + one user-keyed join + a map-side-
    * combined bucket rollup — no windows at all. Output: one row per
    * occurring bucket. HASH-MATCHED. */
  val q242 = QueryDef.oracle("q242_conversion_latency",
    """WITH e AS (SELECT user_id, event_type,
      |             CAST(date_diff('second', TIMESTAMP '1970-01-01', ts)
      |                  AS BIGINT) AS es
      |           FROM events),
      |v AS (SELECT user_id, MIN(es) AS v_es FROM e
      |      WHERE event_type = 'view' GROUP BY 1),
      |p AS (SELECT v.user_id, MIN(e.es) AS p_es
      |      FROM v JOIN e ON e.user_id = v.user_id
      |       AND e.event_type = 'purchase' AND e.es >= v.v_es
      |      GROUP BY 1),
      |lat AS (SELECT v.user_id, p.p_es - v.v_es AS gap
      |        FROM v LEFT JOIN p USING (user_id)),
      |c AS (SELECT CASE WHEN gap IS NULL THEN CAST(NULL AS BIGINT)
      |             ELSE LEAST(gap, 1048576) END AS gap FROM lat),
      |w AS (SELECT gap,
      |        CASE WHEN gap IS NULL OR gap <= 1 THEN gap ELSE gap - 1 END AS v
      |      FROM c),
      |s1 AS (SELECT gap, v | (v >> 1) AS v FROM w),
      |s2 AS (SELECT gap, v | (v >> 2) AS v FROM s1),
      |s3 AS (SELECT gap, v | (v >> 4) AS v FROM s2),
      |s4 AS (SELECT gap, v | (v >> 8) AS v FROM s3),
      |s5 AS (SELECT gap, v | (v >> 16) AS v FROM s4),
      |b AS (SELECT CASE WHEN gap IS NULL THEN -1
      |             WHEN gap <= 1 THEN gap ELSE v + 1 END AS bucket FROM s5),
      |h AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_users
      |      FROM b GROUP BY 1),
      |tc AS (SELECT CAST(SUM(CASE WHEN bucket >= 0 THEN n_users ELSE 0 END)
      |             AS BIGINT) AS n_conv FROM h)
      |SELECT h.bucket, h.n_users,
      |       CASE WHEN h.bucket < 0 THEN CAST(NULL AS BIGINT)
      |            ELSE CAST(h.n_users * 1000000 // tc.n_conv AS BIGINT)
      |       END AS share_ppm
      |FROM h, tc""".stripMargin)(
    (s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("es"))
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("es").as("v_es"))
      val p = v.join(e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("es")), Seq("user_id"))
        .filter(col("es") >= col("v_es"))
        .groupBy("user_id").agg(min("es").as("p_es"))
      val lat = v.join(p, Seq("user_id"), "left")
        .select(least(col("p_es") - col("v_es"), lit(1048576L)).as("gap"))
      val w0 = lat.withColumn("v",
        when(col("gap").isNull || col("gap") <= 1, col("gap"))
          .otherwise(col("gap") - 1))
      val b = graft.functions.PortableHll.smear(w0, "v")
        .select(when(col("gap").isNull, lit(-1L))
          .when(col("gap") <= 1, col("gap"))
          .otherwise(col("v") + 1).as("bucket"))
      val h = b.groupBy("bucket").agg(count(lit(1)).as("n_users"))
      val tc = h.agg(sum(when(col("bucket") >= 0, col("n_users"))
        .otherwise(0L)).as("n_conv"))
      h.crossJoin(broadcast(tc))
        .select(col("bucket"), col("n_users"),
          when(col("bucket") < 0, lit(null).cast("long"))
            .otherwise(expr(
              "CAST(n_users * 1000000 div n_conv AS BIGINT)"))
            .as("share_ppm"))
    })

  /** K-ANONYMITY audit — the release-safety check a training-data
    * pipeline runs before events leave the trust boundary (q176 scrubs
    * direct identifiers; this measures the RE-identification surface
    * that remains through quasi-identifiers). QI = (event_type, day,
    * hour): any row whose QI group holds fewer than K=5 rows is
    * re-identifiable by an adversary who knows when a user acted, so it
    * must be suppressed or generalized. Per event_type: group count,
    * groups below k, rows at risk, DISTINCT users at risk (exact — a
    * user in two thin groups counts once, which needs the rejoin, not a
    * per-group sum), and the suppression fraction in exact ppm. Scale
    * shape: one scan builds the QI rollup (aggregate-reduced), the thin
    * groups broadcast back against the scan for the user-distinct pass
    * — risky-group cardinality is bounded by the group count, never
    * data-sized. HASH-MATCHED. */
  val q247 = QueryDef.oracle("q247_k_anonymity",
    """WITH q AS (SELECT event_type, CAST(ts AS DATE) AS d,
      |             date_part('hour', ts) AS h, user_id
      |           FROM events),
      |g AS (SELECT event_type, d, h, CAST(count(*) AS BIGINT) AS n
      |      FROM q GROUP BY 1, 2, 3),
      |risky AS (SELECT event_type, d, h, n FROM g WHERE n < 5),
      |ru AS (SELECT q.event_type,
      |         CAST(count(DISTINCT q.user_id) AS BIGINT) AS users_at_risk
      |       FROM q JOIN risky USING (event_type, d, h)
      |       GROUP BY 1),
      |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_groups,
      |        CAST(SUM(n) AS BIGINT) AS n_rows,
      |        CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
      |          AS groups_lt_k,
      |        CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
      |          AS rows_at_risk
      |      FROM g GROUP BY 1)
      |SELECT t.event_type, t.n_rows, t.n_groups, t.groups_lt_k,
      |       t.rows_at_risk,
      |       COALESCE(ru.users_at_risk, CAST(0 AS BIGINT)) AS users_at_risk,
      |       CAST(t.rows_at_risk * 1000000 // t.n_rows AS BIGINT)
      |         AS suppress_ppm
      |FROM t LEFT JOIN ru USING (event_type)""".stripMargin)(
    (s, d) => {
      val q = Tables.events(s, d)
        .select(col("event_type"), to_date(col("ts")).as("d"),
          hour(col("ts")).cast("long").as("h"), col("user_id"))
      // the QI rollup feeds BOTH the per-type totals and the risky-group
      // rejoin: materialize it once (aggregate-reduced, ~|groups| rows)
      // instead of re-scanning events for each consumer
      val g = q.groupBy("event_type", "d", "h").agg(count(lit(1)).as("n"))
        .localCheckpoint(false)
      val risky = g.filter(col("n") < 5)
      val ru = q.join(broadcast(risky.select("event_type", "d", "h")),
          Seq("event_type", "d", "h"))
        .groupBy("event_type")
        .agg(countDistinct("user_id").as("users_at_risk"))
      val t = g.groupBy("event_type")
        .agg(count(lit(1)).as("n_groups"), sum("n").as("n_rows"),
          sum(when(col("n") < 5, 1L).otherwise(0L)).as("groups_lt_k"),
          sum(when(col("n") < 5, col("n")).otherwise(0L)).as("rows_at_risk"))
      t.join(broadcast(ru), Seq("event_type"), "left")
        .select(col("event_type"), col("n_rows"), col("n_groups"),
          col("groups_lt_k"), col("rows_at_risk"),
          coalesce(col("users_at_risk"), lit(0L)).as("users_at_risk"),
          expr("CAST(rows_at_risk * 1000000 div n_rows AS BIGINT)")
            .as("suppress_ppm"))
    })

  /** MANN-KENDALL trend test — the nonparametric is-traffic-growing
    * verdict the anomaly family lacks: q132 flags single bad days,
    * q212 flags seasonal deviations, but neither answers "is this
    * event type trending?" robustly. The statistic is pure integers:
    * S = Σ over day pairs (i<j) of sign(count_j − count_i) — no means,
    * no variances, immune to outlier days that wreck a least-squares
    * slope. Verdict by cross-multiplication against half the maximum
    * |S| = n(n−1)/2: increasing when 4S > n(n−1), decreasing when
    * 4S < −n(n−1) (i.e. |S| beyond half of max — a deliberately
    * conservative cut, no normal approximation). Scale shape: the day
    * rollup is AGGREGATE-REDUCED (365 rows/type/year regardless of
    * event volume), so the day-pair self-join is bounded O(days²) per
    * type, keyed on event_type — the classic trick of running the
    * quadratic statistic on the reduced table, never the fact table.
    * HASH-MATCHED. */
  val q252 = QueryDef.oracle("q252_trend_test",
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
      |                 CAST(count(*) AS BIGINT) AS cnt
      |               FROM events GROUP BY 1, 2),
      |s AS (SELECT a.event_type,
      |        CAST(SUM(CASE WHEN b.cnt > a.cnt THEN 1
      |                      WHEN b.cnt < a.cnt THEN -1 ELSE 0 END)
      |             AS BIGINT) AS s_stat
      |      FROM daily a JOIN daily b
      |        ON a.event_type = b.event_type AND a.d < b.d
      |      GROUP BY 1),
      |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
      |       FROM daily GROUP BY 1)
      |SELECT nd.event_type, nd.n_days,
      |       CAST(nd.n_days * (nd.n_days - 1) // 2 AS BIGINT) AS n_pairs,
      |       COALESCE(s.s_stat, CAST(0 AS BIGINT)) AS s_stat,
      |       CASE WHEN 4 * COALESCE(s.s_stat, 0)
      |                 > nd.n_days * (nd.n_days - 1) THEN 'increasing'
      |            WHEN 4 * COALESCE(s.s_stat, 0)
      |                 < -(nd.n_days * (nd.n_days - 1)) THEN 'decreasing'
      |            ELSE 'none' END AS trend
      |FROM nd LEFT JOIN s USING (event_type)""".stripMargin)(
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint(false) // aggregate-reduced; feeds both join sides
      val a = daily.select(col("event_type"), col("d").as("d1"),
        col("cnt").as("c1"))
      val b = daily.select(col("event_type").as("et2"), col("d").as("d2"),
        col("cnt").as("c2"))
      val sStat = a.join(b, col("event_type") === col("et2") &&
          col("d1") < col("d2"))
        .groupBy("event_type")
        .agg(sum(when(col("c2") > col("c1"), 1L)
          .when(col("c2") < col("c1"), -1L).otherwise(0L)).as("s_stat"))
      val nd = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
      nd.join(broadcast(sStat), Seq("event_type"), "left")
        .select(col("event_type"), col("n_days"),
          expr("CAST(n_days * (n_days - 1) div 2 AS BIGINT)").as("n_pairs"),
          coalesce(col("s_stat"), lit(0L)).as("s_stat"),
          when(lit(4) * coalesce(col("s_stat"), lit(0L))
            > col("n_days") * (col("n_days") - 1), "increasing")
            .when(lit(4) * coalesce(col("s_stat"), lit(0L))
              < -(col("n_days") * (col("n_days") - 1)), "decreasing")
            .otherwise("none").as("trend"))
    })

  /** L-DIVERSITY audit — the gap k-anonymity leaves open (Machanavajjhala
    * et al. 2007): a QI group can pass k (enough ROWS) while every row
    * belongs to one or two USERS — homogeneous groups re-identify by
    * attribute disclosure even when q247's row-count gate passes. Same
    * (event_type, day, hour) quasi-identifier as q247 (the two audits
    * must read the same groups), sensitive attribute = user_id, l = 3.
    * Per event_type: groups, k-passing groups (n ≥ 5), the
    * k-PASSING-yet-l-FAILING count (distinct users < 3 — the rows q247
    * would release and this audit stops), their row mass in exact ppm,
    * and the minimum diversity observed among k-passing groups (the
    * published l of this release). Scale shape: one scan → QI-keyed
    * two-level aggregate (rows + distinct users per group — the
    * distinct is per-QI-group, never global) → per-type rollup. Output:
    * one row per event_type. HASH-MATCHED. */
  val q261 = QueryDef.oracle("q261_l_diversity",
    """WITH q AS (SELECT event_type, CAST(ts AS DATE) AS d,
      |             date_part('hour', ts) AS h, user_id
      |           FROM events),
      |g AS (SELECT event_type, d, h, CAST(count(*) AS BIGINT) AS n,
      |        CAST(count(DISTINCT user_id) AS BIGINT) AS u
      |      FROM q GROUP BY 1, 2, 3)
      |SELECT event_type,
      |       CAST(count(*) AS BIGINT) AS n_groups,
      |       CAST(SUM(n) AS BIGINT) AS n_rows,
      |       CAST(count(CASE WHEN n >= 5 THEN 1 END) AS BIGINT) AS k_pass,
      |       CAST(count(CASE WHEN n >= 5 AND u < 3 THEN 1 END) AS BIGINT)
      |         AS k_pass_l_fail,
      |       CAST(COALESCE(SUM(CASE WHEN n >= 5 AND u < 3 THEN n END), 0)
      |            AS BIGINT) AS homogeneous_rows,
      |       CAST(COALESCE(SUM(CASE WHEN n >= 5 AND u < 3 THEN n END), 0)
      |            * 1000000 // SUM(n) AS BIGINT) AS homogeneous_ppm,
      |       CAST(MIN(CASE WHEN n >= 5 THEN u END) AS BIGINT) AS min_l_at_k
      |FROM g GROUP BY 1""".stripMargin)(
    (s, d) => {
      val g = Tables.events(s, d)
        .select(col("event_type"), to_date(col("ts")).as("d"),
          hour(col("ts")).cast("long").as("h"), col("user_id"))
        .groupBy("event_type", "d", "h")
        .agg(count(lit(1)).as("n"), countDistinct("user_id").as("u"))
      g.groupBy("event_type")
        .agg(count(lit(1)).as("n_groups"), sum("n").as("n_rows"),
          count(when(col("n") >= 5, 1)).cast("long").as("k_pass"),
          count(when(col("n") >= 5 && col("u") < 3, 1)).cast("long")
            .as("k_pass_l_fail"),
          coalesce(sum(when(col("n") >= 5 && col("u") < 3, col("n"))), lit(0L))
            .cast("long").as("homogeneous_rows"),
          expr("CAST(COALESCE(SUM(CASE WHEN n >= 5 AND u < 3 THEN n END), 0)" +
            " * 1000000 div SUM(n) AS BIGINT)").as("homogeneous_ppm"),
          min(when(col("n") >= 5, col("u"))).cast("long").as("min_l_at_k"))
    })

  /** First-order MARKOV transition matrix over user journeys — the
    * model behind next-event prediction and funnel leak analysis: for
    * every (prev_type → next_type) pair of CONSECUTIVE events of one
    * user (q234's lag-window convention: ORDER BY epoch-second,
    * event_id — deterministic under ts ties), the transition count and
    * the row-conditional probability P(next | prev) in exact ppm. The
    * diagonal says loops (refresh/retry behavior), purchase's row says
    * what follows conversion. Scale shape: one user-keyed lag window +
    * one map-side-combined (prev, next) rollup + a |types|-row
    * broadcast of per-prev totals. Output: |types|² rows max.
    * HASH-MATCHED. */
  val q264 = QueryDef.oracle("q264_event_transitions",
    """WITH e AS (SELECT user_id, event_type, event_id,
      |             CAST(date_diff('second', TIMESTAMP '1970-01-01', ts)
      |                  AS BIGINT) AS es
      |           FROM events),
      |p AS (SELECT event_type AS next_type,
      |        LAG(event_type) OVER (PARTITION BY user_id
      |                              ORDER BY es, event_id) AS prev_type
      |      FROM e),
      |t AS (SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
      |      FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS row_total
      |        FROM t GROUP BY 1)
      |SELECT t.prev_type, t.next_type, t.n, tot.row_total,
      |       CAST(t.n * 1000000 // tot.row_total AS BIGINT) AS p_ppm
      |FROM t JOIN tot USING (prev_type)""".stripMargin)(
    (s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_timestamp(col("ts")).as("es"))
      val w = Window.partitionBy("user_id").orderBy("es", "event_id")
      val t = e
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      val tot = t.groupBy("prev_type").agg(sum("n").as("row_total"))
      t.join(broadcast(tot), Seq("prev_type"))
        .select(col("prev_type"), col("next_type"), col("n"), col("row_total"),
          expr("CAST(n * 1000000 div row_total AS BIGINT)").as("p_ppm"))
    })

  /** RFM feature assembly — the classic per-user (Recency, Frequency,
    * Monetary) feature vector a churn/LTV model trains on, in exact
    * integers: recency in whole days from the corpus's own reference
    * instant (max event time — a 1-row broadcast, so the features are
    * reproducible from the data alone), frequency as event count,
    * monetary as purchase cents. Each dimension is then scored 1–5 by
    * NTILE(5) with deterministic tiebreak (value, user_id) — high is
    * better: recent/frequent/big-spending users score 555 in the
    * concatenated segment code. Scale shape: one scan → user-keyed
    * rollup (pinned once) → three keyedPrefixRank passes (the user
    * table GROWS with the data, so each NTILE is reconstructed
    * closed-form from the exact keyed global row index + total count —
    * no zero-key window anywhere; the old global ntile was the
    * r13-verdict #4 class). Output: one row per user. HASH-MATCHED. */
  val q265 = QueryDef.oracle("q265_rfm_features",
    """WITH ref AS (SELECT MAX(CAST(date_diff('second',
      |              TIMESTAMP '1970-01-01', ts) AS BIGINT)) AS ref_es
      |            FROM events),
      |u AS (SELECT user_id,
      |        MAX(CAST(date_diff('second', TIMESTAMP '1970-01-01', ts)
      |            AS BIGINT)) AS last_es,
      |        CAST(count(*) AS BIGINT) AS frequency,
      |        CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
      |          THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT)
      |          AS monetary_cents
      |      FROM events GROUP BY 1),
      |f AS (SELECT u.user_id,
      |        CAST((ref.ref_es - u.last_es) // 86400 AS BIGINT)
      |          AS recency_days,
      |        u.frequency, u.monetary_cents
      |      FROM u, ref)
      |SELECT user_id, recency_days, frequency, monetary_cents,
      |       CAST(NTILE(5) OVER (ORDER BY recency_days DESC, user_id)
      |            AS BIGINT) AS r_score,
      |       CAST(NTILE(5) OVER (ORDER BY frequency, user_id) AS BIGINT)
      |         AS f_score,
      |       CAST(NTILE(5) OVER (ORDER BY monetary_cents, user_id) AS BIGINT)
      |         AS m_score
      |FROM f""".stripMargin)(
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("value"),
          unix_timestamp(col("ts")).as("es"))
      val ref = ev.agg(max("es").as("ref_es"))
      val u = ev.groupBy("user_id")
        .agg(max("es").as("last_es"), count(lit(1)).as("frequency"),
          coalesce(sum(when(col("event_type") === "purchase",
            round(col("value") * 100).cast("long"))), lit(0L))
            .cast("long").as("monetary_cents"))
      val feat = u.crossJoin(broadcast(ref))
        .select(col("user_id"),
          expr("CAST((ref_es - last_es) div 86400 AS BIGINT)").as("recency_days"),
          col("frequency"), col("monetary_cents"))
        .localCheckpoint(false) // three rank passes read one materialization
      // NTILE(5) from the EXACT global row index, computed by the keyed
      // two-level numbering (the user table GROWS with the data — a
      // global ntile window over it was the r13-verdict #4 class).
      // SQL NTILE: the first (n mod k) buckets get ceil(n/k) rows —
      // reproduced closed-form from (rank, n), identical in both engines.
      def scored(src: DataFrame, key: String, asc: Boolean, out: String) = {
        val ord = if (asc) col(key) else col(key).desc
        val rk = graft.pipeline.Clean.keyedPrefixRank(src,
          Seq(ord, col("user_id")), "__rk", totalCol = Some("__n"))
        rk.withColumn(out, expr(
            """CAST(CASE WHEN __rk <= (__n % 5) * (__n div 5 + 1)
              |  THEN (__rk - 1) div (__n div 5 + 1) + 1
              |  ELSE (__n % 5) + (__rk - (__n % 5) * (__n div 5 + 1) - 1)
              |       div greatest(__n div 5, 1) + 1 END AS BIGINT)"""
              .stripMargin))
          .drop("__rk", "__n")
      }
      val r1 = scored(feat, "recency_days", asc = false, "r_score")
      val r2 = scored(r1, "frequency", asc = true, "f_score")
      scored(r2, "monetary_cents", asc = true, "m_score")
        .select(col("user_id"), col("recency_days"), col("frequency"),
          col("monetary_cents"), col("r_score"), col("f_score"),
          col("m_score"))
    })

  /** MARKETING ATTRIBUTION — last-touch vs first-touch, the two
    * models every conversion report reconciles: per purchase, the
    * LAST-TOUCH channel is the most recent non-purchase event type
    * strictly before it in the user's stream (IGNORE NULLS backward
    * window — q264's deterministic (epoch-second, event_id) ordering;
    * a purchase with no prior touch attributes to 'direct'), the
    * FIRST-TOUCH channel is the user's very first event type. Revenue
    * rides in exact cents (q265's round(value·100) convention). The
    * output row per channel carries both models' purchase counts and
    * cents plus each model's revenue share in exact ppm — the gap
    * between the two columns IS the budget-shift argument. Scale
    * shape: one user-keyed window pass over the fact (keyed, never
    * global), two map-side channel rollups, |channels|-row full outer
    * merge + 1-row total broadcast. Output: one row per channel.
    * HASH-MATCHED. */
  val q267 = QueryDef.oracle("q267_attribution",
    """WITH e AS (SELECT user_id, event_type, event_id, value,
      |             CAST(date_diff('second', TIMESTAMP '1970-01-01', ts)
      |                  AS BIGINT) AS es
      |           FROM events),
      |w AS (SELECT user_id, event_type, value,
      |        LAST_VALUE(CASE WHEN event_type <> 'purchase'
      |                        THEN event_type END IGNORE NULLS)
      |          OVER (PARTITION BY user_id ORDER BY es, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |          AS last_touch,
      |        FIRST_VALUE(event_type)
      |          OVER (PARTITION BY user_id ORDER BY es, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          AS first_touch
      |      FROM e),
      |p AS (SELECT COALESCE(last_touch, 'direct') AS last_touch, first_touch,
      |             CAST(round(value * 100) AS BIGINT) AS cents
      |      FROM w WHERE event_type = 'purchase'),
      |lt AS (SELECT last_touch AS channel, CAST(count(*) AS BIGINT) AS n_last,
      |         CAST(SUM(cents) AS BIGINT) AS cents_last
      |       FROM p GROUP BY 1),
      |ft AS (SELECT first_touch AS channel, CAST(count(*) AS BIGINT) AS n_first,
      |         CAST(SUM(cents) AS BIGINT) AS cents_first
      |       FROM p GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total_cents FROM p)
      |SELECT COALESCE(l.channel, f.channel) AS channel,
      |       COALESCE(l.n_last, 0) AS n_last,
      |       COALESCE(l.cents_last, 0) AS cents_last,
      |       COALESCE(f.n_first, 0) AS n_first,
      |       COALESCE(f.cents_first, 0) AS cents_first,
      |       CAST(COALESCE(l.cents_last, 0) * 1000000 // t.total_cents
      |            AS BIGINT) AS last_share_ppm,
      |       CAST(COALESCE(f.cents_first, 0) * 1000000 // t.total_cents
      |            AS BIGINT) AS first_share_ppm
      |FROM lt l FULL OUTER JOIN ft f ON l.channel = f.channel, tot t""".stripMargin)(
    (s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("value"), unix_timestamp(col("ts")).as("es"))
      val wu = Window.partitionBy("user_id").orderBy("es", "event_id")
      val p = e
        .withColumn("last_touch",
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true)
            .over(wu.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("first_touch",
          first(col("event_type"))
            .over(wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("event_type") === "purchase")
        .select(coalesce(col("last_touch"), lit("direct")).as("last_touch"),
          col("first_touch"),
          round(col("value") * 100).cast("long").as("cents"))
      val lt = p.groupBy(col("last_touch").as("channel"))
        .agg(count(lit(1)).as("n_last"), sum("cents").as("cents_last"))
      val ft = p.groupBy(col("first_touch").as("channel"))
        .agg(count(lit(1)).as("n_first"), sum("cents").as("cents_first"))
      val tot = p.agg(sum("cents").as("total_cents"))
      lt.join(ft, Seq("channel"), "full_outer")
        .crossJoin(broadcast(tot))
        .select(col("channel"),
          coalesce(col("n_last"), lit(0L)).as("n_last"),
          coalesce(col("cents_last"), lit(0L)).as("cents_last"),
          coalesce(col("n_first"), lit(0L)).as("n_first"),
          coalesce(col("cents_first"), lit(0L)).as("cents_first"),
          expr("CAST(COALESCE(cents_last, 0) * 1000000 div total_cents AS BIGINT)")
            .as("last_share_ppm"),
          expr("CAST(COALESCE(cents_first, 0) * 1000000 div total_cents AS BIGINT)")
            .as("first_share_ppm"))
    })

  /** A/B TEST READOUT — the deterministic-bucketing experiment
    * analysis every growth pipeline runs: users split 50/50 by the
    * md5(user_id) last-nibble parity (the same portable hash family
    * q258's sampler uses, so assignment is reproducible from the data
    * alone — no stored assignment table), outcome = converted (≥ 1
    * purchase). The readout is the two-proportion pooled z-test:
    * per-arm users, conversions and exact conv_ppm, then the pooled
    * z² in milli-units with its exact sign — z² rather than z because
    * the squared form reduces to pure products and ONE division over
    * exactly-converted integers (see [[abZ2Sql]]: the textbook z has
    * float additions a native compiler may FMA-contract, observed as
    * a one-ulp engine split at sf0.01), so both engines land the
    * identical double. significant ⟺ z2_milli ≥ 3842 (1.96² =
    * 3.8416), a rule DEFINED on the integer output. An A/A split of a healthy
    * corpus should NOT be significant — this is as much a bucketing
    * audit as a test harness. Scale shape: one user rollup (map-side
    * combined), one 2-row arm rollup, 1-row pivot. Output: one row.
    * HASH-MATCHED. */
  /** The ONE pooled two-proportion z² expression over columns
    * (na, ca, nb, cb) — algebraically z² = d²·N / (na·nb·c·(N−c))
    * with d = ca·nb − cb·na, c = ca+cb, N = na+nb — restructured so
    * the float chain contains ONLY multiplications and one division
    * over exactly-converted integers: the textbook form
    * (p̂_A−p̂_B)/√(p̂(1−p̂)(1/n_A+1/n_B)) has float ADDITIONS, which a
    * native engine's compiler may contract into FMA (observed: DuckDB
    * and the JVM disagreed by one ulp at sf0.01, flipping round() on
    * two days of q273). A pure product/quotient chain has no
    * contractible a·b+c shape, every op is individually IEEE
    * correctly-rounded, and the parenthesized order is fixed — so the
    * text runs VERBATIM and bit-identically on both engines. d, c, N
    * stay exact BIGINT (na·nb < 2⁶³ up to ~3·10⁹ users; the 128-bit
    * swap note applies beyond). Embedded by q268 and the
    * sequential-peeking audit q273 (drift-spec pinned). */
  private[graft] val abZ2Sql: String = "round(1000 * " +
    "(((CAST(ca * nb - cb * na AS DOUBLE) * CAST(ca * nb - cb * na AS DOUBLE))" +
    " * CAST(na + nb AS DOUBLE)) " +
    "/ (((CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))" +
    " * CAST(ca + cb AS DOUBLE)) * CAST((na + nb) - (ca + cb) AS DOUBLE))))"

  /** Direction of the effect, exact: sign(ca·nb − cb·na). */
  private[graft] val abSignSql: String =
    "CASE WHEN ca * nb - cb * na > 0 THEN 1 " +
      "WHEN ca * nb - cb * na < 0 THEN -1 ELSE 0 END"

  /** Degenerate guard for [[abZSql]]: all-converted or none-converted
    * pools zero the standard error. */
  private[graft] val abDegenSql: String = "ca + cb = 0 OR ca + cb = na + nb"

  /** The ONE arm-assignment rule (md5 last-nibble parity over user_id)
    * — shared by q268, q273, and the streaming monitor
    * (`EventStreams.abGate` replays it in Scala, spec-pinned). */
  private[graft] val abArmSql: String =
    "CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 32, 1) " +
      "IN ('0', '2', '4', '6', '8', 'a', 'c', 'e') THEN 'A' ELSE 'B' END"

  private[graft] def abArmCol: org.apache.spark.sql.Column =
    when(substring(md5(col("user_id").cast("string")), 32, 1)
      .isin("0", "2", "4", "6", "8", "a", "c", "e"), "A").otherwise("B")

  val q268 = QueryDef.oracle("q268_ab_test",
    s"""WITH u AS (SELECT user_id,
      |             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |               AS conv
      |           FROM events GROUP BY 1),
      |a AS (SELECT $abArmSql AS arm, conv
      |      FROM u),
      |s AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
      |        CAST(SUM(conv) AS BIGINT) AS c
      |      FROM a GROUP BY 1),
      |w AS (SELECT
      |        MAX(CASE WHEN arm = 'A' THEN n END) AS na,
      |        MAX(CASE WHEN arm = 'A' THEN c END) AS ca,
      |        MAX(CASE WHEN arm = 'B' THEN n END) AS nb,
      |        MAX(CASE WHEN arm = 'B' THEN c END) AS cb
      |      FROM s)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(ca AS BIGINT) AS conv_a,
      |       CAST(nb AS BIGINT) AS n_b, CAST(cb AS BIGINT) AS conv_b,
      |       CAST(ca * 1000000 // na AS BIGINT) AS conv_a_ppm,
      |       CAST(cb * 1000000 // nb AS BIGINT) AS conv_b_ppm,
      |       CASE WHEN $abDegenSql THEN NULL
      |            ELSE CAST($abZ2Sql AS BIGINT)
      |       END AS z2_milli,
      |       CASE WHEN $abDegenSql THEN NULL
      |            ELSE CAST($abSignSql AS BIGINT)
      |       END AS z_sign,
      |       CASE WHEN $abDegenSql THEN NULL
      |            ELSE $abZ2Sql >= 3842
      |       END AS significant
      |FROM w""".stripMargin)(
    (s, d) => {
      val u = Tables.events(s, d).groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("conv"))
      val st = u.select(abArmCol.as("arm"), col("conv"))
        .groupBy("arm").agg(count(lit(1)).as("n"), sum("conv").as("c"))
      val w = st.agg(
        max(when(col("arm") === "A", col("n"))).as("na"),
        max(when(col("arm") === "A", col("c"))).as("ca"),
        max(when(col("arm") === "B", col("n"))).as("nb"),
        max(when(col("arm") === "B", col("c"))).as("cb"))
      w.select(col("na").cast("long").as("n_a"),
        col("ca").cast("long").as("conv_a"),
        col("nb").cast("long").as("n_b"),
        col("cb").cast("long").as("conv_b"),
        expr("CAST(ca * 1000000 div na AS BIGINT)").as("conv_a_ppm"),
        expr("CAST(cb * 1000000 div nb AS BIGINT)").as("conv_b_ppm"),
        expr(s"CASE WHEN $abDegenSql THEN NULL ELSE CAST($abZ2Sql AS BIGINT) END")
          .as("z2_milli"),
        expr(s"CASE WHEN $abDegenSql THEN NULL ELSE CAST($abSignSql AS BIGINT) END")
          .as("z_sign"),
        expr(s"CASE WHEN $abDegenSql THEN NULL ELSE $abZ2Sql >= 3842 END")
          .as("significant"))
    })

  /** RANDOMIZED RESPONSE — the local-DP frequency mechanism (Warner
    * 1965; the RAPPOR core) with REPLAYABLE coins, audited end to end:
    * each event reports its true type with p = 3/4, otherwise a
    * uniform draw over the k types — both coins from the portable
    * quadratic-mix hash of event_id (q256's mixer, streams 17/18), so
    * the "randomness" is engine-reproducible and the whole mechanism
    * hash-matches. The collector then DEBIASES: under the mechanism
    * E[obs_t] = p·n_t + N(1−p)/k, so est = (4·obs·k − N)/(3k) — in
    * exact milli-units — and err_ppm against the true count is the
    * measured utility cost of the privacy knob, per type. The audit a
    * privacy review wants NEXT to q247/q261: those bound
    * re-identification of the release, this prices the alternative
    * (never shipping true rows at all). Scale shape: one scan (coins
    * are row-local arithmetic) + a k-row broadcast for the
    * replacement draw + two map-side type rollups. Output: one row
    * per type. HASH-MATCHED. */
  val q271 = {
    import graft.functions.PortableHashKernels.{P, a, b}
    val (a1, b1, a2, b2) = (a(17), b(17), a(18), b(18))
    QueryDef.oracle("q271_randomized_response",
      s"""WITH ty AS (SELECT event_type,
         |              CAST(ROW_NUMBER() OVER (ORDER BY event_type) - 1
         |                   AS BIGINT) AS idx
         |            FROM (SELECT DISTINCT event_type FROM events)),
         |kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM ty),
         |mx AS (SELECT event_type,
         |         (((event_id % $P) + $P) % $P) AS pm
         |       FROM events),
         |co AS (SELECT event_type,
         |         ((pm * pm + 3 * pm + 7) % $P) AS tm
         |       FROM mx),
         |dr AS (SELECT event_type, tm,
         |         ((tm * $a2 + $b2) % $P) % kk.k AS draw
         |       FROM co, kk),
         |rp AS (SELECT CASE WHEN ((tm * $a1 + $b1) % $P) % 4 <> 0
         |                   THEN e.event_type ELSE t.event_type END
         |           AS reported
         |       FROM dr e JOIN ty t ON t.idx = e.draw),
         |obs AS (SELECT reported AS event_type,
         |          CAST(count(*) AS BIGINT) AS n_reported
         |        FROM rp GROUP BY 1),
         |tru AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_true
         |        FROM events GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events)
         |SELECT t.event_type, t.n_true,
         |       COALESCE(o.n_reported, 0) AS n_reported,
         |       CAST((4 * COALESCE(o.n_reported, 0) * kk.k - nn.n) * 1000
         |            // (3 * kk.k) AS BIGINT) AS est_milli,
         |       CAST(abs((4 * COALESCE(o.n_reported, 0) * kk.k - nn.n) * 1000
         |                // (3 * kk.k) - t.n_true * 1000) * 1000
         |            // t.n_true AS BIGINT) AS err_ppm
         |FROM tru t LEFT JOIN obs o ON o.event_type = t.event_type,
         |     kk, nn""".stripMargin)(
      (s, d) => {
        val ev = Tables.events(s, d)
        val ty = ev.select(col("event_type")).distinct()
          .withColumn("idx",
            (row_number().over(Window.orderBy("event_type")) - 1).cast("long"))
        val kk = ty.agg(count(lit(1)).as("k"))
        val co = ev.select(col("event_type"),
            expr(s"pmod(event_id, ${P}L)").as("pm"))
          .select(col("event_type"),
            expr(s"(pm * pm + 3L * pm + 7L) % ${P}L").as("tm"))
        val rp = co.crossJoin(broadcast(kk))
          .withColumn("draw", expr(s"((tm * ${a2}L + ${b2}L) % ${P}L) % k"))
          .join(broadcast(ty.withColumnRenamed("event_type", "rep_type")),
            col("draw") === col("idx"))
          .select(when(expr(s"((tm * ${a1}L + ${b1}L) % ${P}L) % 4 != 0"),
            col("event_type")).otherwise(col("rep_type")).as("reported"))
        val obs = rp.groupBy(col("reported").as("event_type"))
          .agg(count(lit(1)).as("n_reported"))
        val tru = ev.groupBy("event_type").agg(count(lit(1)).as("n_true"))
        val nn = ev.agg(count(lit(1)).as("n"))
        tru.join(broadcast(obs), Seq("event_type"), "left_outer")
          .crossJoin(broadcast(kk)).crossJoin(broadcast(nn))
          .select(col("event_type"), col("n_true"),
            coalesce(col("n_reported"), lit(0L)).as("n_reported"),
            expr("CAST((4 * COALESCE(n_reported, 0) * k - n) * 1000" +
              " div (3 * k) AS BIGINT)").as("est_milli"),
            expr("CAST(abs((4 * COALESCE(n_reported, 0) * k - n) * 1000" +
              " div (3 * k) - n_true * 1000) * 1000 div n_true AS BIGINT)")
              .as("err_ppm"))
      })
  }

  /** CHI-SQUARE INDEPENDENCE — is the event mix independent of the
    * day-of-week? The Pearson χ² over the (event_type × weekday)
    * contingency table, with Cramér's V as the effect size — the
    * association readout behind "does traffic composition shift on
    * weekends", and the statistical sibling of q252's trend test.
    * Weekday is the portable epoch-day mod 7 (q212's convention —
    * no locale). Counts are exact BIGINTs; χ² itself is the
    * fixed-shape IEEE chain (q268's convention): per cell
    * (O − E)²/E with E = row·col/N computed identically on both
    * engines, summed in a deterministic order (SUM over the
    * cell-keyed rollup is reassociable — so the per-cell term is
    * ROUNDED to micro-units first and summed as BIGINT, making the
    * total order-independent and exact). Scale shape: one scan →
    * map-side (type, dow) rollup → two marginal rollups broadcast
    * back; |cells| ≤ |types|·7. Output: one row. HASH-MATCHED. */
  val q272 = QueryDef.oracle("q272_chi2_independence",
    """WITH e AS (SELECT event_type,
      |             CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |                  AS BIGINT) % 7 AS dow
      |           FROM events),
      |c AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS o
      |      FROM e GROUP BY 1, 2),
      |r AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS rn FROM c GROUP BY 1),
      |k AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS cn FROM c GROUP BY 1),
      |n AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM c),
      |cell AS (SELECT CAST(round(
      |             (c.o - (r.rn * k.cn * 1.0 / n.nn))
      |             * (c.o - (r.rn * k.cn * 1.0 / n.nn))
      |             / (r.rn * k.cn * 1.0 / n.nn) * 1000000) AS BIGINT)
      |           AS term_micro
      |         FROM c JOIN r USING (event_type) JOIN k USING (dow), n),
      |st AS (SELECT CAST(SUM(term_micro) AS BIGINT) AS chi2_micro FROM cell),
      |dims AS (SELECT CAST((SELECT count(*) FROM r) AS BIGINT) AS nr,
      |                CAST((SELECT count(*) FROM k) AS BIGINT) AS nc)
      |SELECT st.chi2_micro,
      |       CAST((dims.nr - 1) * (dims.nc - 1) AS BIGINT) AS df,
      |       CAST(round(sqrt(st.chi2_micro
      |              / (n.nn * 1000000.0 * least(dims.nr - 1, dims.nc - 1)))
      |            * 1000) AS BIGINT) AS cramers_v_milli
      |FROM st, dims, n""".stripMargin)(
    (s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_type"),
          expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT) % 7")
            .as("dow"))
      val c = e.groupBy("event_type", "dow").agg(count(lit(1)).as("o"))
      val r = c.groupBy("event_type").agg(sum("o").as("rn"))
      val k = c.groupBy("dow").agg(sum("o").as("cn"))
      val n = c.agg(sum("o").as("nn"))
      val cell = c.join(broadcast(r), Seq("event_type"))
        .join(broadcast(k), Seq("dow")).crossJoin(broadcast(n))
        .select(expr("CAST(round(" +
          "(o - (rn * cn * 1.0 / nn)) * (o - (rn * cn * 1.0 / nn))" +
          " / (rn * cn * 1.0 / nn) * 1000000) AS BIGINT)").as("term_micro"))
      val st = cell.agg(sum("term_micro").cast("long").as("chi2_micro"))
      val dims = r.agg(count(lit(1)).as("nr"))
        .crossJoin(k.agg(count(lit(1)).as("nc")))
      st.crossJoin(broadcast(dims)).crossJoin(broadcast(n))
        .select(col("chi2_micro"),
          expr("CAST((nr - 1) * (nc - 1) AS BIGINT)").as("df"),
          expr("CAST(round(sqrt(chi2_micro" +
            " / (nn * 1000000.0 * least(nr - 1, nc - 1))) * 1000) AS BIGINT)")
            .as("cramers_v_milli"))
    })

  /** SEQUENTIAL-PEEKING AUDIT — the classic A/B malpractice, measured:
    * evaluate q268's z-test CUMULATIVELY at every day boundary (users
    * enter at their first event's day, convert at their first
    * purchase's day — both from ONE user rollup) and flag each day the
    * naive |z| > 1.96 rule would have "called" the test. Any day
    * flagged before the final one that the final readout does not
    * confirm IS the inflated-α event the fixed-horizon test exists to
    * prevent (Armitage et al. 1969; the reason real monitors use
    * O'Brien–Fleming-style spending). Arm assignment and the z
    * expression are the SHARED q268 fragments verbatim (drift-spec
    * pinned) — the audit cannot drift from the test it audits. Scale
    * shape: one user rollup (map-side) → (arm, day) first-seen /
    * first-conversion value counts → cumsums over the |days|-bounded
    * axis (windows never see the fact table) → per-day 2-arm pivot.
    * Output: one row per day. Early days with an empty arm report
    * NULL z. HASH-MATCHED. */
  val q273 = QueryDef.oracle("q273_ab_peeking_audit",
    s"""WITH u AS (SELECT user_id, $abArmSql AS arm,
       |             MIN(CAST(date_diff('day', DATE '1970-01-01',
       |                                 CAST(ts AS DATE)) AS BIGINT))
       |               AS first_day,
       |             MIN(CASE WHEN event_type = 'purchase'
       |                 THEN CAST(date_diff('day', DATE '1970-01-01',
       |                                     CAST(ts AS DATE)) AS BIGINT) END)
       |               AS first_conv_day
       |           FROM events GROUP BY 1, 2),
       |days AS (SELECT DISTINCT CAST(date_diff('day', DATE '1970-01-01',
       |                                         CAST(ts AS DATE)) AS BIGINT)
       |           AS day FROM events),
       |nf AS (SELECT arm, first_day AS day, CAST(count(*) AS BIGINT) AS n_new
       |       FROM u GROUP BY 1, 2),
       |cf AS (SELECT arm, first_conv_day AS day,
       |         CAST(count(*) AS BIGINT) AS c_new
       |       FROM u WHERE first_conv_day IS NOT NULL GROUP BY 1, 2),
       |ax AS (SELECT d.day, a.arm
       |       FROM days d CROSS JOIN (SELECT DISTINCT arm FROM u) a),
       |cum AS (SELECT ax.day, ax.arm,
       |          CAST(SUM(COALESCE(nf.n_new, 0))
       |               OVER (PARTITION BY ax.arm ORDER BY ax.day) AS BIGINT) AS n,
       |          CAST(SUM(COALESCE(cf.c_new, 0))
       |               OVER (PARTITION BY ax.arm ORDER BY ax.day) AS BIGINT) AS c
       |        FROM ax
       |        LEFT JOIN nf ON nf.arm = ax.arm AND nf.day = ax.day
       |        LEFT JOIN cf ON cf.arm = ax.arm AND cf.day = ax.day),
       |w AS (SELECT day,
       |        MAX(CASE WHEN arm = 'A' THEN n END) AS na,
       |        MAX(CASE WHEN arm = 'A' THEN c END) AS ca,
       |        MAX(CASE WHEN arm = 'B' THEN n END) AS nb,
       |        MAX(CASE WHEN arm = 'B' THEN c END) AS cb
       |      FROM cum GROUP BY 1)
       |SELECT day, na, ca, nb, cb,
       |       CASE WHEN na = 0 OR nb = 0 OR $abDegenSql THEN NULL
       |            ELSE CAST($abZ2Sql AS BIGINT)
       |       END AS z2_milli,
       |       CASE WHEN na = 0 OR nb = 0 OR $abDegenSql THEN NULL
       |            ELSE CAST($abSignSql AS BIGINT)
       |       END AS z_sign,
       |       CASE WHEN na = 0 OR nb = 0 OR $abDegenSql THEN NULL
       |            ELSE $abZ2Sql >= 3842
       |       END AS peek_significant
       |FROM w""".stripMargin)(
    (s, d) => {
      val dayOf = expr(
        "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)")
      val u = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), dayOf.as("day"))
        .groupBy("user_id")
        .agg(min("day").as("first_day"),
          min(when(col("event_type") === "purchase", col("day")))
            .as("first_conv_day"))
        .select(abArmCol.as("arm"), col("first_day"), col("first_conv_day"))
      val days = Tables.events(s, d).select(dayOf.as("day")).distinct()
      val nf = u.groupBy(col("arm"), col("first_day").as("day"))
        .agg(count(lit(1)).as("n_new"))
      val cf = u.filter(col("first_conv_day").isNotNull)
        .groupBy(col("arm"), col("first_conv_day").as("day"))
        .agg(count(lit(1)).as("c_new"))
      val ax = days.crossJoin(broadcast(u.select("arm").distinct()))
      val wArm = Window.partitionBy("arm").orderBy("day")
      val cum = ax
        .join(broadcast(nf), Seq("arm", "day"), "left_outer")
        .join(broadcast(cf), Seq("arm", "day"), "left_outer")
        .withColumn("n", sum(coalesce(col("n_new"), lit(0L))).over(wArm))
        .withColumn("c", sum(coalesce(col("c_new"), lit(0L))).over(wArm))
      val w = cum.groupBy("day")
        .agg(max(when(col("arm") === "A", col("n"))).as("na"),
          max(when(col("arm") === "A", col("c"))).as("ca"),
          max(when(col("arm") === "B", col("n"))).as("nb"),
          max(when(col("arm") === "B", col("c"))).as("cb"))
      val degen = s"na = 0 OR nb = 0 OR $abDegenSql"
      w.select(col("day"), col("na").cast("long").as("na"),
        col("ca").cast("long").as("ca"), col("nb").cast("long").as("nb"),
        col("cb").cast("long").as("cb"),
        expr(s"CASE WHEN $degen THEN NULL ELSE CAST($abZ2Sql AS BIGINT) END")
          .as("z2_milli"),
        expr(s"CASE WHEN $degen THEN NULL ELSE CAST($abSignSql AS BIGINT) END")
          .as("z_sign"),
        expr(s"CASE WHEN $degen THEN NULL ELSE $abZ2Sql >= 3842 END")
          .as("peek_significant"))
    })

  /** A/B POWER ANALYSIS — the question that must be answered BEFORE
    * q268 reads a z² and q273 audits the peeking: at the corpus'
    * pooled conversion rate, how many users PER ARM does each target
    * effect size need (two-sided α=0.05, power 0.80)? n =
    * ⌈2(z_{α/2}+z_β)²·p(1−p)/Δ²⌉ in exact integers: (1.959964 +
    * 0.841621)² is typed in as the public constant 7.848880 (micro
    * units), p and Δ ride in ppm, and the whole fraction is one
    * ceiling division — both engines land identical BIGINTs (the q268
    * convention: no float ever reaches the output). `powered_now`
    * compares against the CURRENT smaller arm — the go/no-go column.
    * Scale shape: one map-side user rollup → 2-row arm table → 1-row
    * pivot × a 4-row constant grid. HASH-MATCHED. */
  val q284 = QueryDef.oracle("q284_ab_required_n",
    s"""WITH u AS (SELECT user_id,
       |             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |               AS conv
       |           FROM events GROUP BY 1),
       |a AS (SELECT $abArmSql AS arm, conv FROM u),
       |s AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
       |        CAST(SUM(conv) AS BIGINT) AS c
       |      FROM a GROUP BY 1),
       |w AS (SELECT
       |        MAX(CASE WHEN arm = 'A' THEN n END) AS na,
       |        MAX(CASE WHEN arm = 'A' THEN c END) AS ca,
       |        MAX(CASE WHEN arm = 'B' THEN n END) AS nb,
       |        MAX(CASE WHEN arm = 'B' THEN c END) AS cb
       |      FROM s),
       |p AS (SELECT na, nb,
       |        CAST((ca + cb) * 1000000 // (na + nb) AS BIGINT) AS p_ppm
       |      FROM w),
       |grid AS (SELECT unnest([50000, 100000, 200000, 500000]) AS mde_rel_ppm),
       |calc AS (SELECT CAST(g.mde_rel_ppm AS BIGINT) AS mde_rel_ppm,
       |           p.p_ppm, p.na, p.nb,
       |           CAST(p.p_ppm * g.mde_rel_ppm // 1000000 AS BIGINT) AS delta_ppm
       |         FROM grid g, p)
       |SELECT mde_rel_ppm, p_ppm, delta_ppm,
       |       CAST(CASE WHEN delta_ppm = 0 OR p_ppm = 0 OR p_ppm = 1000000
       |            THEN NULL
       |            ELSE (2 * 7848880 * p_ppm * (1000000 - p_ppm)
       |                  + 1000000 * delta_ppm * delta_ppm - 1)
       |                 // (1000000 * delta_ppm * delta_ppm)
       |            END AS BIGINT) AS n_required_per_arm,
       |       CASE WHEN delta_ppm = 0 OR p_ppm = 0 OR p_ppm = 1000000
       |            THEN NULL
       |            ELSE (2 * 7848880 * p_ppm * (1000000 - p_ppm)
       |                  + 1000000 * delta_ppm * delta_ppm - 1)
       |                 // (1000000 * delta_ppm * delta_ppm)
       |                 <= LEAST(na, nb)
       |       END AS powered_now
       |FROM calc""".stripMargin)(
    (s, d) => {
      val u = Tables.events(s, d).groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("conv"))
      val arms = u.select(abArmCol.as("arm"), col("conv"))
        .groupBy("arm").agg(count(lit(1)).as("n"), sum("conv").as("c"))
      val w = arms.agg(
        max(when(col("arm") === "A", col("n"))).as("na"),
        max(when(col("arm") === "A", col("c"))).as("ca"),
        max(when(col("arm") === "B", col("n"))).as("nb"),
        max(when(col("arm") === "B", col("c"))).as("cb"))
      val p = w.select(col("na").cast("long").as("na"),
        col("nb").cast("long").as("nb"),
        expr("CAST((ca + cb) * 1000000 div (na + nb) AS BIGINT)").as("p_ppm"))
      val grid = s.createDataFrame(
        Seq(50000L, 100000L, 200000L, 500000L).map(Tuple1(_)))
        .toDF("mde_rel_ppm")
      val nReq = "(2L * 7848880L * p_ppm * (1000000L - p_ppm)" +
        " + 1000000L * delta_ppm * delta_ppm - 1L)" +
        " div (1000000L * delta_ppm * delta_ppm)"
      grid.crossJoin(broadcast(p))
        .withColumn("delta_ppm",
          expr("CAST(p_ppm * mde_rel_ppm div 1000000 AS BIGINT)"))
        .select(col("mde_rel_ppm"), col("p_ppm"), col("delta_ppm"),
          when(col("delta_ppm") === 0 || col("p_ppm") === 0
            || col("p_ppm") === 1000000L, lit(null).cast("long"))
            .otherwise(expr(s"CAST($nReq AS BIGINT)"))
            .as("n_required_per_arm"),
          when(col("delta_ppm") === 0 || col("p_ppm") === 0
            || col("p_ppm") === 1000000L, lit(null).cast("boolean"))
            .otherwise(expr(s"$nReq <= LEAST(na, nb)"))
            .as("powered_now"))
    })

  /** EVENT TRIGRAM PATTERNS — the 3-step extension of q264's Markov
    * pairs: per user, every CONSECUTIVE event triple under the shared
    * (epoch-second, event_id) order, with support (occurrences) and
    * reach (distinct users). Second-order structure is what funnels
    * actually hang on — 'view → click → purchase' vs 'click → view →
    * purchase' are different products, and a first-order transition
    * matrix cannot tell them apart. Output is bounded by |types|³
    * (125 here) at any corpus size. Scale shape: ONE user-keyed lag
    * window (two lags in the same window — one shuffle, one sort) →
    * map-side (t1, t2, t3) rollup. HASH-MATCHED. */
  val q285 = QueryDef.oracle("q285_event_trigrams",
    """WITH e AS (SELECT user_id, event_type, event_id,
      |             date_diff('second', TIMESTAMP '1970-01-01', ts) AS es
      |           FROM events),
      |w AS (SELECT user_id, event_type AS t3,
      |        lag(event_type, 1) OVER (PARTITION BY user_id
      |          ORDER BY es, event_id) AS t2,
      |        lag(event_type, 2) OVER (PARTITION BY user_id
      |          ORDER BY es, event_id) AS t1
      |      FROM e)
      |SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM w WHERE t1 IS NOT NULL
      |GROUP BY 1, 2, 3""".stripMargin)(
    (s, d) => {
      val e = Tables.events(s, d).select(col("user_id"), col("event_type"),
        col("event_id"), unix_timestamp(col("ts")).as("es"))
      val w = Window.partitionBy("user_id").orderBy(col("es"), col("event_id"))
      e.select(col("user_id"), col("event_type").as("t3"),
        lag("event_type", 1).over(w).as("t2"),
        lag("event_type", 2).over(w).as("t1"))
        .filter(col("t1").isNotNull)
        .groupBy("t1", "t2", "t3")
        .agg(count(lit(1)).as("n"),
          countDistinct("user_id").as("n_users"))
    })

  /** TRANSITION DWELL TIME — the timing q264's transition matrix
    * strips: per (prev → next) edge, the exact median and p90 of the
    * gap in seconds (rank over the (pair, gap) value-count rollup,
    * the q207/q296 no-interpolation rule). A funnel edge whose median
    * dwell stretches is friction the transition PROBABILITIES can't
    * show — the pair may still happen, just slower. Scale shape: ONE
    * user-keyed lag window (type and timestamp share it) → map-side
    * (pair, gap) value-count rollup → pair-keyed cumsum windows over
    * the ROLLUP → ≤ |types|²-row output. HASH-MATCHED. */
  val q297 = QueryDef.oracle("q297_transition_dwell",
    """WITH e AS (SELECT user_id, event_type, event_id,
      |             date_diff('second', TIMESTAMP '1970-01-01', ts) AS es
      |           FROM events),
      |w AS (SELECT event_type AS t2,
      |        lag(event_type) OVER (PARTITION BY user_id
      |          ORDER BY es, event_id) AS t1,
      |        es - lag(es) OVER (PARTITION BY user_id
      |          ORDER BY es, event_id) AS gap
      |      FROM e),
      |vc AS (SELECT t1, t2, gap, CAST(count(*) AS BIGINT) AS c
      |       FROM w WHERE t1 IS NOT NULL GROUP BY 1, 2, 3),
      |cum AS (SELECT t1, t2, gap,
      |          SUM(c) OVER (PARTITION BY t1, t2 ORDER BY gap) AS cf,
      |          SUM(c) OVER (PARTITION BY t1, t2) AS n
      |        FROM vc)
      |SELECT t1, t2, CAST(MAX(n) AS BIGINT) AS n,
      |       CAST(MIN(CASE WHEN cf * 2 >= n THEN gap END) AS BIGINT)
      |         AS median_gap_s,
      |       CAST(MIN(CASE WHEN cf * 10 >= 9 * n THEN gap END) AS BIGINT)
      |         AS p90_gap_s
      |FROM cum GROUP BY 1, 2""".stripMargin)(
    (s, d) => {
      val e = Tables.events(s, d).select(col("user_id"), col("event_type"),
        col("event_id"), unix_timestamp(col("ts")).as("es"))
      val w = Window.partitionBy("user_id").orderBy(col("es"), col("event_id"))
      val vc = e.select(col("event_type").as("t2"),
        lag("event_type", 1).over(w).as("t1"),
        (col("es") - lag("es", 1).over(w)).as("gap"))
        .filter(col("t1").isNotNull)
        .groupBy("t1", "t2", "gap").agg(count(lit(1)).as("c"))
      val cum = vc
        .withColumn("cf", sum("c").over(
          Window.partitionBy("t1", "t2").orderBy("gap")))
        .withColumn("n", sum("c").over(Window.partitionBy("t1", "t2")))
      cum.groupBy("t1", "t2").agg(
        max("n").cast("long").as("n"),
        min(when(col("cf") * 2 >= col("n"), col("gap"))).cast("long")
          .as("median_gap_s"),
        min(when(col("cf") * 10 >= col("n") * 9, col("gap"))).cast("long")
          .as("p90_gap_s"))
    })

  /** LAST-TOUCH ATTRIBUTION — the credit-assignment rollup the funnel
    * family stops short of (q194 counts stage survivors, q264 scores
    * transitions, q297 prices the gaps; none says which CHANNEL gets
    * the purchase): every purchase attributes its value to the user's
    * most recent preceding NON-purchase event within a 7-day horizon
    * (ties at one timestamp resolve by the (ts, event_id) total order),
    * or to 'unattributed' when the horizon is empty. One user-keyed
    * carry-forward window (last non-purchase via IGNORE NULLS over the
    * 1-PRECEDING frame — intervening purchases stay transparent by
    * construction), revenue in exact integer cents (q30's floor
    * convention), rollup ≤ |event types| rows. HASH-MATCHED. */
  val q305 = QueryDef.oracle("q305_last_touch_attribution",
    """WITH o AS (
      |  SELECT user_id, ts, event_id, event_type, value,
      |         last_value(CASE WHEN event_type <> 'purchase'
      |                         THEN struct_pack(ats := ts, atype := event_type)
      |                    END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attr
      |  FROM events)
      |SELECT COALESCE(CASE WHEN epoch(ts) - epoch(attr.ats) <= 604800
      |                     THEN attr.atype END,
      |                'unattributed') AS channel,
      |       CAST(count(*) AS BIGINT) AS n_purchases,
      |       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
      |         AS attributed_cents
      |FROM o WHERE event_type = 'purchase'
      |GROUP BY 1""".stripMargin)(
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .withColumn("attr",
          last(when(col("event_type") =!= "purchase",
            struct(col("ts").as("ats"), col("event_type").as("atype"))),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(
          coalesce(
            when(col("ts").cast("long") - col("attr.ats").cast("long") <= 604800,
              col("attr.atype")),
            lit("unattributed")).as("channel"),
          col("value"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_purchases"),
          sum(floor(col("value") * 100).cast("long")).as("attributed_cents"))
    })

  /** HELD-OUT TRANSITION CROSS-ENTROPY — the EVAL step the Markov
    * family stops short of (q264 fits the matrix, q285 mines trigrams,
    * q297 times the edges — none of them asks "does last period's model
    * still predict this period?"): transitions are split at a fixed
    * boundary (epoch second 1 705 881 600 = 2024-01-22T00Z, the q264
    * lag window's own (es, event_id) order; a transition belongs to the
    * period of its NEXT event), an add-1-smoothed conditional model
    * P(next|prev) = (n+1)/(row_total+V) is fit on the TRAIN side
    * (q187's smoothing discipline at the transition grain, alphabet V =
    * distinct train event types), and the EVAL side is scored through
    * it: per prev type, the exact cross-entropy in micro-bits (one
    * engine-identical rounding per (prev, next) VALUE, then pure
    * integer Σm·bits div Σm — q123's micro-bit convention) plus the
    * unseen-pair mass. Rising cross-entropy against q264's fitted rows
    * is sequential-behavior drift — the event-stream sibling of q293's
    * length-distribution KS. Scale shape: ONE user-keyed lag window
    * (the q264 exchange), two map-side (prev, next) rollups, |types|-row
    * joins, a 1-row broadcast alphabet. Output: one row per eval prev
    * type. HASH-MATCHED. */
  val q313 = QueryDef.oracle("q313_transition_holdout",
    """WITH e AS (SELECT user_id, event_type, event_id,
      |             CAST(date_diff('second', TIMESTAMP '1970-01-01', ts)
      |                  AS BIGINT) AS es
      |           FROM events),
      |p AS (SELECT event_type AS next_type, es,
      |        LAG(event_type) OVER (PARTITION BY user_id
      |                              ORDER BY es, event_id) AS prev_type
      |      FROM e),
      |tr AS (SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
      |       FROM p WHERE prev_type IS NOT NULL AND es < 1705881600
      |       GROUP BY 1, 2),
      |ev AS (SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS m
      |       FROM p WHERE prev_type IS NOT NULL AND es >= 1705881600
      |       GROUP BY 1, 2),
      |v AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS vsz
      |      FROM e WHERE es < 1705881600),
      |tot AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS row_total
      |        FROM tr GROUP BY 1),
      |sc AS (SELECT ev.prev_type, ev.m,
      |         CASE WHEN tr.n IS NULL THEN 1 ELSE 0 END AS unseen,
      |         CAST(round(log2(CAST(COALESCE(tot.row_total, 0) + v.vsz
      |                             AS DOUBLE)
      |                         / (COALESCE(tr.n, 0) + 1)) * 1000000)
      |              AS BIGINT) AS micro_bits
      |       FROM ev LEFT JOIN tr USING (prev_type, next_type)
      |            LEFT JOIN tot USING (prev_type), v)
      |SELECT sc.prev_type,
      |       CAST(COALESCE(MAX(tot.row_total), 0) AS BIGINT) AS train_total,
      |       CAST(SUM(sc.m) AS BIGINT) AS eval_total,
      |       CAST(SUM(sc.unseen) AS BIGINT) AS unseen_pairs,
      |       CAST(SUM(sc.m * sc.micro_bits) // SUM(sc.m) AS BIGINT)
      |         AS xent_micro_bits
      |FROM sc LEFT JOIN tot ON sc.prev_type = tot.prev_type
      |GROUP BY 1""".stripMargin)(
    (s, d) => {
      val boundary = 1705881600L
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_timestamp(col("ts")).as("es"))
      val w = Window.partitionBy("user_id").orderBy("es", "event_id")
      val p = e
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type").isNotNull)
        .select(col("prev_type"), col("event_type").as("next_type"), col("es"))
      val tr = p.filter(col("es") < boundary)
        .groupBy("prev_type", "next_type").agg(count(lit(1)).as("n"))
      val ev = p.filter(col("es") >= boundary)
        .groupBy("prev_type", "next_type").agg(count(lit(1)).as("m"))
      val v = e.filter(col("es") < boundary)
        .agg(countDistinct("event_type").as("vsz"))
      val tot = tr.groupBy("prev_type").agg(sum("n").as("row_total"))
      val sc = ev
        .join(tr, Seq("prev_type", "next_type"), "left")
        .join(broadcast(tot), Seq("prev_type"), "left")
        .crossJoin(broadcast(v))
        .select(col("prev_type"), col("m"),
          when(col("n").isNull, 1L).otherwise(0L).as("unseen"),
          round(log2((coalesce(col("row_total"), lit(0L)) + col("vsz"))
            .cast("double") / (coalesce(col("n"), lit(0L)) + 1)) * 1000000)
            .cast("long").as("micro_bits"))
      sc.join(broadcast(tot), Seq("prev_type"), "left")
        .groupBy("prev_type")
        .agg(coalesce(max("row_total"), lit(0L)).as("train_total"),
          sum("m").as("eval_total"),
          sum("unseen").as("unseen_pairs"),
          expr("CAST(SUM(m * micro_bits) div SUM(m) AS BIGINT)")
            .as("xent_micro_bits"))
    })

  /** STRICT-ORDER SESSION FUNNEL — the correction to q33's presence
    * test, at q31's session grain: q33 counts a user "depth 3" if a
    * purchase EXISTS, even one fired before any view (attribution
    * credit for a journey that never happened). The strict rule chains
    * first-times: s1 = first view in the session, s2 = first click
    * AFTER s1, s3 = first purchase AFTER s2 — the ordered-subsequence
    * test product analytics means by "funnel". Emitted side by side
    * with the loose (presence) rule per depth, so the INFLATION the
    * loose rule causes is itself the measurement (loose ≥ strict by
    * construction; the gap is misordered credit). Sessions come from
    * the ONE shared [[sessionCtes]] 30-min-gap assignment — funnel and
    * sessionizer cannot drift. Ties: chaining uses strict ts
    * inequality (same-timestamp chains don't count — identical rule
    * both engines). Scale shape: the q31 user-keyed window, one
    * session rollup, two session-keyed chain joins (each ≤ one row per
    * session on the build side), a 4-row depth axis with cumsums over
    * 4 rows. Output: 4 rows. HASH-MATCHED. */
  val q317 = QueryDef.oracle("q317_session_funnel_strict",
    s"""WITH $sessionCtes,
      |base AS (SELECT user_id, session_id,
      |           min(CASE WHEN event_type = 'view' THEN ts END) AS s1,
      |           min(CASE WHEN event_type = 'click' THEN ts END) AS cl_any,
      |           min(CASE WHEN event_type = 'purchase' THEN ts END) AS pu_any
      |         FROM s GROUP BY 1, 2),
      |c2 AS (SELECT s.user_id, s.session_id, min(s.ts) AS s2
      |       FROM s JOIN base b USING (user_id, session_id)
      |       WHERE s.event_type = 'click' AND s.ts > b.s1 GROUP BY 1, 2),
      |c3 AS (SELECT s.user_id, s.session_id, min(s.ts) AS s3
      |       FROM s JOIN c2 USING (user_id, session_id)
      |       WHERE s.event_type = 'purchase' AND s.ts > c2.s2 GROUP BY 1, 2),
      |f AS (SELECT b.user_id, b.session_id,
      |        CASE WHEN c3.s3 IS NOT NULL THEN 3 WHEN c2.s2 IS NOT NULL THEN 2
      |             WHEN b.s1 IS NOT NULL THEN 1 ELSE 0 END AS d_strict,
      |        CASE WHEN b.pu_any IS NOT NULL THEN 3
      |             WHEN b.cl_any IS NOT NULL THEN 2
      |             WHEN b.s1 IS NOT NULL THEN 1 ELSE 0 END AS d_loose
      |      FROM base b LEFT JOIN c2 USING (user_id, session_id)
      |           LEFT JOIN c3 USING (user_id, session_id)),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
      |axis AS (SELECT CAST(unnest(range(0, 4)) AS BIGINT) AS depth)
      |SELECT a.depth,
      |       CAST(count(CASE WHEN f.d_strict = a.depth THEN 1 END) AS BIGINT)
      |         AS n_strict,
      |       CAST(count(CASE WHEN f.d_loose = a.depth THEN 1 END) AS BIGINT)
      |         AS n_loose,
      |       CAST(count(CASE WHEN f.d_strict >= a.depth THEN 1 END)
      |            * 1000000 // MAX(tot.n) AS BIGINT) AS reach_strict_ppm,
      |       CAST(count(CASE WHEN f.d_loose >= a.depth THEN 1 END)
      |            * 1000000 // MAX(tot.n) AS BIGINT) AS reach_loose_ppm
      |FROM axis a, f, tot
      |GROUP BY a.depth""".stripMargin)(
    (s, d) => {
      // the session window runs ONCE — base/c2/c3 all read the pinned
      // result instead of re-running the user-keyed window three times
      // the pin stays: unpinned at sf0.01, a warm build plus one run took 13 jobs, not 12
      val sess = sessionized(s, d)
        .select(col("user_id"), col("session_id"), col("ts"), col("event_type"))
        .localCheckpoint(false)
      val base = sess.groupBy("user_id", "session_id")
        .agg(min(when(col("event_type") === "view", col("ts"))).as("s1"),
          min(when(col("event_type") === "click", col("ts"))).as("cl_any"),
          min(when(col("event_type") === "purchase", col("ts"))).as("pu_any"))
      val c2 = sess.join(base.select("user_id", "session_id", "s1"),
          Seq("user_id", "session_id"))
        .filter(col("event_type") === "click" && col("ts") > col("s1"))
        .groupBy("user_id", "session_id").agg(min("ts").as("s2"))
      val c3 = sess.join(c2, Seq("user_id", "session_id"))
        .filter(col("event_type") === "purchase" && col("ts") > col("s2"))
        .groupBy("user_id", "session_id").agg(min("ts").as("s3"))
      val f = base
        .join(c2, Seq("user_id", "session_id"), "left")
        .join(c3, Seq("user_id", "session_id"), "left")
        .select(
          when(col("s3").isNotNull, 3L).when(col("s2").isNotNull, 2L)
            .when(col("s1").isNotNull, 1L).otherwise(0L).as("d_strict"),
          when(col("pu_any").isNotNull, 3L).when(col("cl_any").isNotNull, 2L)
            .when(col("s1").isNotNull, 1L).otherwise(0L).as("d_loose"))
      val axis = s.range(0, 4).select(col("id").as("depth"))
      axis.crossJoin(f.crossJoin(broadcast(f.agg(count(lit(1)).as("n")))))
        .groupBy("depth")
        .agg(count(when(col("d_strict") === col("depth"), 1)).as("n_strict"),
          count(when(col("d_loose") === col("depth"), 1)).as("n_loose"),
          expr("CAST(count(CASE WHEN d_strict >= depth THEN 1 END)" +
            " * 1000000 div MAX(n) AS BIGINT)").as("reach_strict_ppm"),
          expr("CAST(count(CASE WHEN d_loose >= depth THEN 1 END)" +
            " * 1000000 div MAX(n) AS BIGINT)").as("reach_loose_ppm"))
    })

  /** Gap grid swept by q319 — the shipped q31 threshold (1800 s) sits
    * inside the grid so the advisor prices the production point. */
  private val SessionGaps = Seq(300L, 900L, 1800L, 3600L, 7200L)

  /** SESSION-GAP SENSITIVITY ADVISOR — the parameter audit behind
    * q31's 30-minute constant (the q263 LSH-advisor discipline applied
    * to sessionization): every candidate gap is evaluated from ONE
    * user-keyed lag pass (the q307 multi-budget trick — a session
    * START at gap g is simply `prev_ts IS NULL OR diff > g`, a
    * conditional count, so the five thresholds cost five counters on
    * the same scan, not five window passes). Per gap: session count,
    * exact mean events/session in milli, and how many "sessions" are
    * singletons (the over-splitting symptom; a gap so large sessions
    * approach one-per-user is the under-splitting one — the knee
    * between them is the defensible setting). Singleton counting
    * without a second window: a session is a run of events whose
    * FOLLOWING gap also exceeds g, so singletons = starts whose NEXT
    * event (same user) either doesn't exist or starts a new session —
    * counted from the lead diff on the same pass. Scale shape: ONE
    * user-keyed window (lag + lead), one map-side rollup, 5 output
    * rows. Output: one row per gap. HASH-MATCHED. */
  val q319 = {
    val arms = SessionGaps.map { g =>
      s"""SELECT CAST($g AS BIGINT) AS gap_s,
         |  CAST(SUM(CASE WHEN pd IS NULL OR pd > $g THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_sessions,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(count(*) * 1000 // SUM(CASE WHEN pd IS NULL OR pd > $g
         |         THEN 1 ELSE 0 END) AS BIGINT) AS events_per_session_milli,
         |  CAST(SUM(CASE WHEN (pd IS NULL OR pd > $g)
         |                 AND (nd IS NULL OR nd > $g) THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_singletons
         |FROM t""".stripMargin
    }
    QueryDef.oracle("q319_session_gap_advisor",
      s"""WITH e AS (SELECT user_id, event_id,
         |             CAST(date_diff('second', TIMESTAMP '1970-01-01', ts)
         |                  AS BIGINT) AS es
         |           FROM events),
         |t AS (SELECT es - LAG(es) OVER (PARTITION BY user_id
         |                                ORDER BY es, event_id) AS pd,
         |             LEAD(es) OVER (PARTITION BY user_id
         |                            ORDER BY es, event_id) - es AS nd
         |      FROM e)
         |${arms.mkString("\nUNION ALL\n")}""".stripMargin)(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("es", "event_id")
        // the pin stays: unpinned, every arm re-sorts and re-runs the window; q319 ran 1.08-1.56x
        // its pinned time in three sf0.1 windows
        val t = Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            unix_timestamp(col("ts")).as("es"))
          .withColumn("pd", col("es") - lag("es", 1).over(w))
          .withColumn("nd", lead("es", 1).over(w) - col("es"))
          .localCheckpoint(false) // one window pass feeds all five arms
        SessionGaps.map { g =>
          t.agg(
            sum(when(col("pd").isNull || col("pd") > g, 1L).otherwise(0L))
              .as("n_sessions"),
            count(lit(1)).as("n_events"),
            sum(when((col("pd").isNull || col("pd") > g) &&
              (col("nd").isNull || col("nd") > g), 1L).otherwise(0L))
              .as("n_singletons"))
            .select(lit(g).as("gap_s"), col("n_sessions"), col("n_events"),
              expr("CAST(n_events * 1000 div n_sessions AS BIGINT)")
                .as("events_per_session_milli"),
              col("n_singletons"))
        }.reduce(_ unionByName _)
      })
  }

  /** Delay grid swept by q323 — 600 is the CERTIFIED-complete setting
    * under the simulated jitter bound (see the q323 scaladoc proof),
    * so the curve honestly saturates at its last row. */
  private val WatermarkDelays = Seq(0L, 60L, 120L, 300L, 600L)

  /** WATERMARK-DELAY ADVISOR — the parameter audit behind every
    * `withWatermark` in graft.streaming (the q319 discipline applied to
    * the out-of-orderness knob): Structured Streaming drops an event
    * from stateful operators when its event time falls below the
    * watermark, which advances at BATCH boundaries to (max event time
    * over completed batches − delay). The corpus carries no arrival
    * column (the generator emits in event-time order — a zero-lateness
    * feed that prices nothing), so arrival is simulated with the
    * REPLAYABLE coin convention (q271's quadratic mixer on event_id):
    * arrival = es + jitter, jitter uniform-ish in [0, 600) — delivery
    * disorder with a known bound, the setup every watermark paper
    * evaluates against. Micro-batches are arrival MINUTES (time-driven
    * triggers), and an event in batch b is dropped at delay d iff
    * es < max_es(batches < b) − d. The certified stop: an earlier-batch
    * event o and a batch-b event e satisfy es_o − es_e < jit_e − jit_o
    * < 600, so lateness < 600 and the d = 600 row is provably zero —
    * the advisor's grid ends where the jitter bound says it must.
    * Every candidate delay is priced from ONE pass (the multi-budget
    * trick): the per-batch max rollup is aggregate-reduced, the running
    * prev-batch max is a window over |batches| rows — never the fact
    * table — and the five delays are five conditional counters on the
    * same joined scan. Scale shape: one scan → map-side batch rollup →
    * |batches|-row window → broadcast join back → 5 counters. Output:
    * one row per delay. HASH-MATCHED. */
  val q323 = {
    import graft.functions.PortableHashKernels.{P, a, b}
    val (a1, b1) = (a(19), b(19))
    val arms = WatermarkDelays.map { g =>
      s"""SELECT CAST($g AS BIGINT) AS delay_s,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(SUM(CASE WHEN pm IS NOT NULL AND es < pm - $g
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |  CAST(SUM(CASE WHEN pm IS NOT NULL AND es < pm - $g
         |           THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
         |    AS drop_ppm
         |FROM t""".stripMargin
    }
    QueryDef.oracle("q323_watermark_advisor",
      s"""WITH e0 AS (SELECT (((event_id % $P) + $P) % $P) AS pm0,
         |              CAST(date_diff('second', TIMESTAMP '1970-01-01', ts)
         |                   AS BIGINT) AS es
         |            FROM events),
         |e AS (SELECT es,
         |        (es + ((((pm0 * pm0 + 3 * pm0 + 7) % $P) * $a1 + $b1) % $P)
         |              % 600) // 60 AS b
         |      FROM e0),
         |bm AS (SELECT b, MAX(es) AS mx FROM e GROUP BY 1),
         |w AS (SELECT b, MAX(mx) OVER (ORDER BY b
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
         |      FROM bm),
         |t AS (SELECT e.es, w.pm FROM e JOIN w USING (b))
         |${arms.mkString("\nUNION ALL\n")}""".stripMargin)(
      (s, d) => {
        val e = Tables.events(s, d)
          .select(unix_timestamp(col("ts")).as("es"),
            expr(s"pmod(event_id, ${P}L)").as("pm0"))
          .select(col("es"), expr(
            s"(es + ((((pm0 * pm0 + 3L * pm0 + 7L) % ${P}L) * ${a1}L + ${b1}L)" +
              s" % ${P}L) % 600L) div 60L").as("b"))
        val bm = e.groupBy("b").agg(max("es").as("mx"))
        // zero-key window, but over the AGGREGATE-REDUCED batch table
        // (|batches| rows), never the fact scan
        val w = bm.select(col("b"), max("mx").over(
          Window.orderBy("b")
            .rowsBetween(Window.unboundedPreceding, -1)).as("pm"))
        // the pin stays: a broadcast join has no exchange to reuse, so unpinned every arm re-scans
        // events
        val t = e.join(broadcast(w), Seq("b"))
          .localCheckpoint(false) // one joined pass feeds all five arms
        WatermarkDelays.map { g =>
          t.agg(count(lit(1)).as("n_events"),
            sum(when(col("pm").isNotNull && col("es") < col("pm") - g, 1L)
              .otherwise(0L)).as("n_dropped"))
            .select(lit(g).as("delay_s"), col("n_events"), col("n_dropped"),
              expr("CAST(n_dropped * 1000000 div n_events AS BIGINT)")
                .as("drop_ppm"))
        }.reduce(_ unionByName _)
      })
  }

  /** T-CLOSENESS audit — the third leg of the privacy triad (Li, Li &
    * Venkatasubramanian 2007) beside q247's k-anonymity and q261's
    * l-diversity: a QI group can hold enough rows (k) and enough
    * distinct users (l) while its SENSITIVE-VALUE distribution still
    * leaks — e.g. a group whose transaction values are all in the top
    * band discloses "big spender" even with 10 users in it. Same
    * (event_type, day, hour) quasi-identifier as q247/q261 (the three
    * audits must read the same groups); sensitive attribute = value in
    * 8 fixed-width ordered bands (⌊value/64⌋ clamped — power-of-two
    * divisor, IEEE-exact). t per group is the ORDERED Earth-Mover's
    * Distance to the whole-table distribution, which for ordinal
    * categories collapses to mean |cum-diff|: t = Σᵢ|Σ_{j≤i}(p_j−q_j)|
    * / (m−1) — computed in exact integers by cross-multiplying counts
    * (c·N − g·n in DECIMAL(38,0)/HUGEINT; BIGINT ppm on the wire). Per
    * event_type: groups, k-passing groups, k-passing groups with
    * t > 0.2 (the paper's canonical threshold), their row mass in ppm,
    * and the max t among k-passing groups (the published t of this
    * release). Scale shape: one scan → QI×8-band rollup (map-side
    * combined) → densified cumsums over 8-row KEYED windows → per-type
    * rollup; the global band distribution is an 8-row broadcast.
    * Output: one row per event_type. HASH-MATCHED. */
  val q326 = QueryDef.oracle("q326_t_closeness",
    """WITH q AS (SELECT event_type, CAST(ts AS DATE) AS d,
      |             date_part('hour', ts) AS h,
      |             least(CAST(FLOOR(value / 64) AS BIGINT), 7) AS sb
      |           FROM events),
      |g AS (SELECT event_type, d, h, sb, CAST(count(*) AS BIGINT) AS c
      |      FROM q GROUP BY 1, 2, 3, 4),
      |gn AS (SELECT event_type, d, h, CAST(SUM(c) AS BIGINT) AS n
      |       FROM g GROUP BY 1, 2, 3),
      |gl AS (SELECT sb, CAST(SUM(c) AS BIGINT) AS gc FROM g GROUP BY 1),
      |tot AS (SELECT CAST(SUM(gc) AS BIGINT) AS tn FROM gl),
      |ax AS (SELECT CAST(range AS BIGINT) AS sb FROM range(0, 8)),
      |gd AS (SELECT gn.event_type, gn.d, gn.h, gn.n, ax.sb,
      |         COALESCE(g.c, CAST(0 AS BIGINT)) AS c,
      |         COALESCE(gl.gc, CAST(0 AS BIGINT)) AS gc, tot.tn
      |       FROM gn CROSS JOIN ax
      |       LEFT JOIN g ON g.event_type = gn.event_type AND g.d = gn.d
      |         AND g.h = gn.h AND g.sb = ax.sb
      |       LEFT JOIN gl ON gl.sb = ax.sb
      |       CROSS JOIN tot),
      |cs AS (SELECT event_type, d, h, n, sb, tn,
      |         SUM(CAST(c AS HUGEINT) * tn - CAST(gc AS HUGEINT) * n)
      |           OVER (PARTITION BY event_type, d, h ORDER BY sb) AS cd
      |       FROM gd),
      |tg AS (SELECT event_type, d, h, n,
      |         CAST(SUM(CASE WHEN sb < 7 THEN abs(cd)
      |                  ELSE CAST(0 AS HUGEINT) END) * 1000000
      |              // (7 * CAST(n AS HUGEINT) * MAX(tn)) AS BIGINT) AS t_ppm
      |       FROM cs GROUP BY 1, 2, 3, 4)
      |SELECT event_type,
      |       CAST(count(*) AS BIGINT) AS n_groups,
      |       CAST(count(CASE WHEN n >= 5 THEN 1 END) AS BIGINT) AS k_pass,
      |       CAST(count(CASE WHEN n >= 5 AND t_ppm > 200000 THEN 1 END)
      |            AS BIGINT) AS t_fail,
      |       CAST(COALESCE(SUM(CASE WHEN n >= 5 AND t_ppm > 200000 THEN n END),
      |                     0) AS BIGINT) AS disclosing_rows,
      |       CAST(COALESCE(SUM(CASE WHEN n >= 5 AND t_ppm > 200000 THEN n END),
      |                     0) * 1000000 // SUM(n) AS BIGINT) AS disclosing_ppm,
      |       MAX(CASE WHEN n >= 5 THEN t_ppm END) AS max_t_at_k
      |FROM tg GROUP BY 1""".stripMargin)(
    (s, d) => {
      val q0 = Tables.events(s, d)
        .select(col("event_type"), to_date(col("ts")).as("d"),
          hour(col("ts")).cast("long").as("h"),
          least(expr("CAST(FLOOR(value / 64) AS BIGINT)"), lit(7L)).as("sb"))
      // the QI×band rollup feeds the group sizes, the global band
      // distribution AND the densified grid: pin it once
      val g = q0.groupBy("event_type", "d", "h", "sb")
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(false)
      val gn = g.groupBy("event_type", "d", "h").agg(sum("c").as("n"))
      val gl = g.groupBy("sb").agg(sum("c").as("gc"))
      val tot = gl.agg(sum("gc").as("tn"))
      val ax = s.range(8).select(col("id").as("sb"))
      val gd = gn.crossJoin(broadcast(ax))
        .join(g, Seq("event_type", "d", "h", "sb"), "left")
        .join(broadcast(gl), Seq("sb"), "left")
        .crossJoin(broadcast(tot))
        .select(col("event_type"), col("d"), col("h"), col("n"), col("sb"),
          coalesce(col("c"), lit(0L)).as("c"),
          coalesce(col("gc"), lit(0L)).as("gc"), col("tn"))
      val w = Window.partitionBy("event_type", "d", "h").orderBy("sb")
      val cs = gd.withColumn("cd",
        sum(expr("CAST(c AS DECIMAL(38,0)) * tn - CAST(gc AS DECIMAL(38,0)) * n"))
          .over(w))
      val tg = cs.groupBy("event_type", "d", "h", "n")
        .agg(expr("CAST(SUM(CASE WHEN sb < 7 THEN abs(cd)" +
          " ELSE CAST(0 AS DECIMAL(38,0)) END) * 1000000" +
          " div (7 * CAST(n AS DECIMAL(38,0)) * MAX(tn)) AS BIGINT)").as("t_ppm"))
      tg.groupBy("event_type")
        .agg(count(lit(1)).as("n_groups"),
          count(when(col("n") >= 5, 1)).cast("long").as("k_pass"),
          count(when(col("n") >= 5 && col("t_ppm") > 200000, 1)).cast("long")
            .as("t_fail"),
          coalesce(sum(when(col("n") >= 5 && col("t_ppm") > 200000, col("n"))),
            lit(0L)).cast("long").as("disclosing_rows"),
          expr("CAST(COALESCE(SUM(CASE WHEN n >= 5 AND t_ppm > 200000 THEN n" +
            " END), 0) * 1000000 div SUM(n) AS BIGINT)").as("disclosing_ppm"),
          max(when(col("n") >= 5, col("t_ppm"))).as("max_t_at_k"))
    })

  /** CUPED variance reduction — the pre-experiment-covariate adjustment
    * (Deng, Xu, Kohavi & Walker, WSDM 2013) that makes q268's A/B family
    * sensitive: each user's metric Y (spend cents in the second half of
    * the observation window) is adjusted by θ·(X − X̄) where X is the
    * SAME user's pre-period spend — assignment-independent, so the
    * adjustment removes between-user variance without biasing the
    * treatment contrast. Everything replays in exact integers: the
    * pooled moments accumulate in DECIMAL(38,0)/HUGEINT, θ is the
    * moment-identity ratio (n·Sxy − SxSy)·10⁶ div (n·Sxx − Sx²), and
    * the variance-reduction factor ρ² lands as the product of the two
    * milli-ratios (Cxy·10³ div Vx)·(Cxy·10³ div Vy) — exact ppm with no
    * float in either engine (q319's note: DuckDB `//` and Spark `div`
    * both truncate toward zero, so signed moments agree). Arms are the
    * ONE shared assignment rule (q268's md5 nibble, drift-pinned). Per
    * arm: users, raw mean Y, CUPED-adjusted mean Y (micro), with the
    * global θ and variance reduction alongside — the measured answer to
    * "how much A/B sample does the pre-period buy us". Scale shape: one
    * scan + 1-row split broadcast → user-keyed rollup (one exchange
    * feeds pooled moments AND per-arm sums) → 1-row moment table broadcast to
    * a 2-row output. Output: one row per arm. HASH-MATCHED. */
  val q327 = QueryDef.oracle("q327_cuped",
    s"""WITH e AS (SELECT user_id,
      |             CAST(date_diff('second', TIMESTAMP '1970-01-01', ts)
      |                  AS BIGINT) AS es,
      |             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      |           FROM events),
      |sp AS (SELECT (MIN(es) + MAX(es)) // 2 AS mid FROM e),
      |u AS (SELECT user_id,
      |        CAST(SUM(CASE WHEN es < mid THEN cents ELSE 0 END) AS BIGINT) AS x,
      |        CAST(SUM(CASE WHEN es >= mid THEN cents ELSE 0 END) AS BIGINT) AS y
      |      FROM e, sp GROUP BY 1),
      |a AS (SELECT $abArmSql AS arm, x, y FROM u),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
      |        SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |        SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |        SUM(CAST(y AS HUGEINT) * y) AS syy
      |      FROM a),
      |t AS (SELECT n, sx,
      |        n * sxx - sx * sx AS vx, n * syy - sy * sy AS vy,
      |        n * sxy - sx * sy AS cxy FROM m),
      |th AS (SELECT n, sx,
      |        CASE WHEN vx = 0 OR vy = 0 THEN NULL
      |             ELSE CAST(cxy * 1000000 // vx AS BIGINT) END AS theta_micro,
      |        CASE WHEN vx = 0 OR vy = 0 THEN NULL
      |             ELSE CAST((cxy * 1000 // vx) * (cxy * 1000 // vy) AS BIGINT)
      |        END AS var_reduction_ppm
      |      FROM t),
      |s AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
      |        SUM(CAST(x AS HUGEINT)) AS sxa, SUM(CAST(y AS HUGEINT)) AS sya
      |      FROM a GROUP BY 1),
      |f AS (SELECT s.arm, s.n_users,
      |        CAST(s.sya * 1000000 // s.n_users AS BIGINT) AS mean_y_micro,
      |        (s.sxa * th.n - th.sx * s.n_users) * 1000000
      |          // (CAST(s.n_users AS HUGEINT) * th.n) AS dx_micro,
      |        th.theta_micro, th.var_reduction_ppm
      |      FROM s, th)
      |SELECT arm, n_users, mean_y_micro,
      |       CAST(mean_y_micro - CAST(theta_micro AS HUGEINT) * dx_micro
      |            // 1000000 AS BIGINT) AS adj_mean_y_micro,
      |       theta_micro, var_reduction_ppm
      |FROM f""".stripMargin)(
    (s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
          floor(col("value") * 100).cast("long").as("cents"))
      val sp = e.agg(expr("(MIN(es) + MAX(es)) div 2").as("mid"))
      // the user rollup feeds the pooled moments AND the per-arm sums,
      // both from its one exchange
      val a = e.crossJoin(broadcast(sp)).groupBy("user_id")
        .agg(sum(when(col("es") < col("mid"), col("cents")).otherwise(0L))
          .as("x"),
          sum(when(col("es") >= col("mid"), col("cents")).otherwise(0L))
            .as("y"))
        .select(abArmCol.as("arm"), col("x"), col("y"))
      val m = a.agg(count(lit(1)).as("n"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      val th = m
        .select(col("n"), col("sx"),
          expr("n * sxx - sx * sx").as("vx"),
          expr("n * syy - sy * sy").as("vy"),
          expr("n * sxy - sx * sy").as("cxy"))
        .select(col("n"), col("sx"),
          expr("CASE WHEN vx = 0 OR vy = 0 THEN NULL" +
            " ELSE CAST(cxy * 1000000 div vx AS BIGINT) END").as("theta_micro"),
          expr("CASE WHEN vx = 0 OR vy = 0 THEN NULL" +
            " ELSE CAST((cxy * 1000 div vx) * (cxy * 1000 div vy) AS BIGINT)" +
            " END").as("var_reduction_ppm"))
      val sArm = a.groupBy("arm").agg(count(lit(1)).as("n_users"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("sxa"),
        sum(expr("CAST(y AS DECIMAL(38,0))")).as("sya"))
      sArm.crossJoin(broadcast(th))
        .select(col("arm"), col("n_users"),
          expr("CAST(sya * 1000000 div n_users AS BIGINT)").as("mean_y_micro"),
          expr("(sxa * n - sx * n_users) * 1000000" +
            " div (CAST(n_users AS DECIMAL(38,0)) * n)").as("dx_micro"),
          col("theta_micro"), col("var_reduction_ppm"))
        .select(col("arm"), col("n_users"), col("mean_y_micro"),
          expr("CAST(mean_y_micro - CAST(theta_micro AS DECIMAL(38,0))" +
            " * dx_micro div 1000000 AS BIGINT)").as("adj_mean_y_micro"),
          col("theta_micro"), col("var_reduction_ppm"))
    })

  /** Lag grid swept by q330 — sub-day lags, the daily lag (24) and the
    * weekly lag (168) so both calendar periodicities are priced. */
  private val AcfLags = Seq(1L, 2L, 3L, 6L, 12L, 24L, 168L)

  /** TRAFFIC AUTOCORRELATION — the dominant-period detector the anomaly
    * family reads before fixing a seasonality model: q212 ASSUMES the
    * (dow, hour) grid matters; this measures, per event_type, how much
    * of the hourly-count variance each candidate lag actually explains.
    * The series is the DENSE hourly count vector (missing hours are
    * real zeros — skipping them would splice non-adjacent hours
    * together and fake correlation); for each lag L the aligned pairs
    * (x_t, x_{t+L}) come from a lag-keyed self-join of the
    * AGGREGATE-REDUCED grid (the q252 discipline: quadratic work on the
    * rollup, never the fact table). Signed strength is reported the
    * q327 way — r² in exact ppm as the product of the two milli-ratios
    * of the DECIMAL/HUGEINT moment identities, sign(Cxy) alongside — no
    * sqrt, no float, both engines truncate identically. Scale shape:
    * one scan → map-side (type, hour) rollup → per-type dense grid
    * (|hours| rows, axis broadcast) → 7 grid-sized lag joins. Output:
    * one row per (event_type, lag). HASH-MATCHED. */
  val q330 = {
    val arms = AcfLags.map { l =>
      s"""SELECT a.event_type, CAST($l AS BIGINT) AS lag_h,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(count(*) AS HUGEINT) * SUM(CAST(a.c AS HUGEINT) * a.c)
         |    - SUM(CAST(a.c AS HUGEINT)) * SUM(CAST(a.c AS HUGEINT)) AS vx,
         |  CAST(count(*) AS HUGEINT) * SUM(CAST(b.c AS HUGEINT) * b.c)
         |    - SUM(CAST(b.c AS HUGEINT)) * SUM(CAST(b.c AS HUGEINT)) AS vy,
         |  CAST(count(*) AS HUGEINT) * SUM(CAST(a.c AS HUGEINT) * b.c)
         |    - SUM(CAST(a.c AS HUGEINT)) * SUM(CAST(b.c AS HUGEINT)) AS cxy
         |FROM grid a JOIN grid b
         |  ON a.event_type = b.event_type AND b.hs = a.hs + $l
         |GROUP BY 1, 2""".stripMargin
    }
    QueryDef.oracle("q330_autocorrelation",
      s"""WITH e AS (SELECT event_type,
         |             CAST(date_diff('second', TIMESTAMP '1970-01-01', ts)
         |                  AS BIGINT) // 3600 AS hs
         |           FROM events),
         |ec AS (SELECT event_type, hs, CAST(count(*) AS BIGINT) AS c
         |       FROM e GROUP BY 1, 2),
         |sp AS (SELECT MIN(hs) AS h0, MAX(hs) AS h1 FROM ec),
         |ty AS (SELECT DISTINCT event_type FROM ec),
         |ax AS (SELECT unnest(generate_series(h0, h1)) AS hs FROM sp),
         |grid AS (SELECT ty.event_type, ax.hs, COALESCE(ec.c, 0) AS c
         |         FROM ty CROSS JOIN ax
         |         LEFT JOIN ec ON ec.event_type = ty.event_type
         |           AND ec.hs = ax.hs),
         |lags AS (${arms.mkString("\nUNION ALL\n")})
         |SELECT event_type, lag_h, n_pairs,
         |       CASE WHEN vx = 0 OR vy = 0 THEN NULL
         |            ELSE CAST((cxy * 1000 // vx) * (cxy * 1000 // vy)
         |                      AS BIGINT) END AS r2_ppm,
         |       CASE WHEN vx = 0 OR vy = 0 THEN NULL
         |            WHEN cxy > 0 THEN CAST(1 AS BIGINT)
         |            WHEN cxy < 0 THEN CAST(-1 AS BIGINT)
         |            ELSE CAST(0 AS BIGINT) END AS r_sign
         |FROM lags""".stripMargin)(
      (s, d) => {
        val ec = Tables.events(s, d)
          .select(col("event_type"),
            expr("unix_timestamp(ts) div 3600").as("hs"))
          .groupBy("event_type", "hs").agg(count(lit(1)).as("c"))
        val sp = ec.agg(min("hs").as("h0"), max("hs").as("h1"))
        val ax = sp.select(explode(expr("sequence(h0, h1)")).as("hs"))
        val ty = ec.select("event_type").distinct()
        // the pin stays: unpinned (21 -> 14 jobs at sf0.01), q330 still ran 1.27-1.30x its pinned
        // time in three sf0.1 windows
        val grid = ty.crossJoin(broadcast(ax))
          .join(ec, Seq("event_type", "hs"), "left")
          .select(col("event_type"), col("hs"),
            coalesce(col("c"), lit(0L)).as("c"))
          .localCheckpoint(false) // the dense grid feeds all 7 lag joins
        val dec = "CAST(%s AS DECIMAL(38,0))"
        AcfLags.map { l =>
          val b = grid.select(col("event_type"),
            (col("hs") - l).as("hs"), col("c").as("cb"))
          grid.join(b, Seq("event_type", "hs"))
            .groupBy("event_type")
            .agg(count(lit(1)).as("n_pairs"),
              expr(s"count(*) * SUM(${dec.format("c")} * c)" +
                s" - SUM(${dec.format("c")}) * SUM(${dec.format("c")})")
                .as("vx"),
              expr(s"count(*) * SUM(${dec.format("cb")} * cb)" +
                s" - SUM(${dec.format("cb")}) * SUM(${dec.format("cb")})")
                .as("vy"),
              expr(s"count(*) * SUM(${dec.format("c")} * cb)" +
                s" - SUM(${dec.format("c")}) * SUM(${dec.format("cb")})")
                .as("cxy"))
            .select(col("event_type"), lit(l).as("lag_h"),
              col("n_pairs").cast("long").as("n_pairs"),
              expr("CASE WHEN vx = 0 OR vy = 0 THEN NULL" +
                " ELSE CAST((cxy * 1000 div vx) * (cxy * 1000 div vy)" +
                " AS BIGINT) END").as("r2_ppm"),
              expr("CASE WHEN vx = 0 OR vy = 0 THEN NULL" +
                " WHEN cxy > 0 THEN CAST(1 AS BIGINT)" +
                " WHEN cxy < 0 THEN CAST(-1 AS BIGINT)" +
                " ELSE CAST(0 AS BIGINT) END").as("r_sign"))
        }.reduce(_ unionByName _)
      })
  }

  /** Horizon buckets for q334's life table, in seconds: 1h, 6h, 24h,
    * 72h, and one week — the last row's survivors are the churned. */
  private val ReturnHorizons = Seq(3600L, 21600L, 86400L, 259200L, 604800L)

  /** RETURN-TIME SURVIVAL — the life-table estimate of "when do users
    * come back", the retention curve q133's day-grain cohort matrix
    * cannot see below 24 h (and the survival-analysis treatment q319's
    * raw gaps lack): per session, the RETURN TIME is the gap from this
    * session's last event to the user's next session's first event —
    * RIGHT-CENSORED for each user's final session at (corpus max ts −
    * session end), because "hasn't returned yet" is not "never
    * returns", and dropping those rows would bias the curve optimistic
    * (the classic survival mistake). Sessions are the ONE shared q31
    * assignment ([[sessionCtes]]/`sessionized` — the funnel, the
    * advisor and this curve must agree on what a session is). The
    * estimator is the actuarial life table over the 5-bucket horizon
    * grid: hazard_b = returns_b / at-risk_b (censored leave the risk
    * set at bucket END — the convention, stated), and survival is the
    * EXACT RATIONAL product Π(1 − d_i/n_i) carried as separate
    * numerator/denominator integer products (≤5 factors —
    * DECIMAL/HUGEINT; ppm on the wire, no float ever). Scale shape:
    * the shared user-keyed session window → session rollup → per-user
    * lead window → one 5-row life table. Output: one row per horizon.
    * HASH-MATCHED. */
  val q334 = {
    val k = ReturnHorizons.size
    val caseArms = ReturnHorizons.zipWithIndex
      .map { case (h, i) => s"WHEN t < $h THEN $i" }.mkString(" ")
    // pivot columns d0..d4 / c0..c4 out of the bucket rollup
    def pivotDuck = (0 until k).map(i =>
      s"COALESCE(MAX(CASE WHEN b = $i THEN d END), 0) AS d$i, " +
        s"COALESCE(MAX(CASE WHEN b = $i THEN c END), 0) AS c$i").mkString(",\n|        ")
    // at-risk entering bucket b: everyone not yet resolved
    def atRisk(b: Int): String =
      if (b == 0) "n" else "n - (" +
        (0 until b).map(i => s"d$i + c$i").mkString(" + ") + ")"
    def duckArm(b: Int): String = {
      val num = (0 to b).map(i => s"(${atRisk(i)} - d$i)")
        .mkString(" * CAST(1 AS HUGEINT) * ")
      val den = (0 to b).map(i => s"(${atRisk(i)})")
        .mkString(" * CAST(1 AS HUGEINT) * ")
      s"""SELECT CAST(${ReturnHorizons(b)} AS BIGINT) AS horizon_s,
         |  CAST(${atRisk(b)} AS BIGINT) AS at_risk,
         |  d$b AS returned, c$b AS censored,
         |  CASE WHEN ${atRisk(b)} = 0 THEN NULL
         |       ELSE CAST(d$b * 1000000 // (${atRisk(b)}) AS BIGINT)
         |  END AS hazard_ppm,
         |  CASE WHEN ${(0 to b).map(i => s"${atRisk(i)} = 0").mkString(" OR ")}
         |       THEN NULL
         |       ELSE CAST(($num) * 1000000 // (($den)) AS BIGINT)
         |  END AS survival_ppm
         |FROM w""".stripMargin
    }
    QueryDef.oracle("q334_return_survival",
      s"""WITH $sessionCtes,
        |se AS (SELECT user_id, session_id,
        |         MIN(epoch(ts)) AS s_start, MAX(epoch(ts)) AS s_end
        |       FROM s GROUP BY 1, 2),
        |mx AS (SELECT MAX(s_end) AS m FROM se),
        |gp AS (SELECT user_id, s_end,
        |        LEAD(s_start) OVER (PARTITION BY user_id
        |                            ORDER BY session_id) AS nxt
        |      FROM se),
        |obs AS (SELECT CASE WHEN nxt IS NULL THEN mx.m - s_end
        |                    ELSE nxt - s_end END AS t,
        |               nxt IS NOT NULL AS returned
        |        FROM gp, mx),
        |bk AS (SELECT t, returned,
        |         CASE $caseArms ELSE $k END AS b
        |       FROM obs),
        |cnt AS (SELECT b,
        |          CAST(count(CASE WHEN returned THEN 1 END) AS BIGINT) AS d,
        |          CAST(count(CASE WHEN NOT returned THEN 1 END) AS BIGINT) AS c
        |        FROM bk GROUP BY 1),
        |w AS (SELECT CAST(SUM(d + c) AS BIGINT) AS n,
        |        $pivotDuck
        |      FROM cnt)
        |${(0 until k).map(duckArm).mkString("\nUNION ALL\n")}""".stripMargin)(
      (s, d) => {
        val se = sessionized(s, d)
          .groupBy("user_id", "session_id")
          .agg(min(unix_timestamp(col("ts"))).as("s_start"),
            max(unix_timestamp(col("ts"))).as("s_end"))
        val mx = se.agg(max("s_end").as("m"))
        val g = se.withColumn("nxt",
          lead("s_start", 1).over(
            Window.partitionBy("user_id").orderBy("session_id")))
        val obs = g.crossJoin(broadcast(mx))
          .select(when(col("nxt").isNull, col("m") - col("s_end"))
            .otherwise(col("nxt") - col("s_end")).as("t"),
            col("nxt").isNotNull.as("returned"))
        val bexp = ReturnHorizons.zipWithIndex
          .map { case (h, i) => s"WHEN t < $h THEN $i" }
          .mkString("CASE ", " ", s" ELSE $k END")
        val cnt = obs.groupBy(expr(bexp).as("b"))
          .agg(count(when(col("returned"), 1)).cast("long").as("d"),
            count(when(!col("returned"), 1)).cast("long").as("c"))
        val aggs = (sum("d") + sum("c")).as("n") +: (0 until k).flatMap(i =>
          Seq(coalesce(max(when(col("b") === i, col("d"))), lit(0L)).as(s"d$i"),
            coalesce(max(when(col("b") === i, col("c"))), lit(0L)).as(s"c$i")))
        val w = cnt.agg(aggs.head, aggs.tail: _*)
          .localCheckpoint(false) // one-row life table feeds 5 arms
        (0 until k).map { b =>
          val num = (0 to b).map(i => s"(${atRisk(i)} - d$i)")
            .mkString(" * CAST(1 AS DECIMAL(38,0)) * ")
          val den = (0 to b).map(i => s"(${atRisk(i)})")
            .mkString(" * CAST(1 AS DECIMAL(38,0)) * ")
          w.select(lit(ReturnHorizons(b)).as("horizon_s"),
            expr(s"CAST(${atRisk(b)} AS BIGINT)").as("at_risk"),
            col(s"d$b").as("returned"), col(s"c$b").as("censored"),
            expr(s"CASE WHEN ${atRisk(b)} = 0 THEN NULL" +
              s" ELSE CAST(d$b * 1000000 div (${atRisk(b)}) AS BIGINT)" +
              " END").as("hazard_ppm"),
            expr("CASE WHEN " +
              (0 to b).map(i => s"${atRisk(i)} = 0").mkString(" OR ") +
              s" THEN NULL ELSE CAST(($num) * 1000000 div (($den))" +
              " AS BIGINT) END").as("survival_ppm"))
        }.reduce(_ unionByName _)
      })
  }


  /** SESSION PATH MINING — the "how do sessions actually start" table a
    * product-analytics review reads next to q317's funnel: each session
    * (q31's shared 30-min-gap rule — the sessionCtes fragment verbatim,
    * so path mining cannot disagree with sessionization) is reduced to
    * its ENTRY PATH, the first ≤3 event types in (ts, event_id) order
    * joined with '>'; per path: session count, share of all sessions,
    * and the conversion rate (a purchase anywhere in the session —
    * loose on purpose: the path is the ENTRY, conversion may come
    * later), both in exact ppm. Top-10 by session count via the
    * orderBy+limit-THEN-rank convention (q124's shape — the rank window
    * only ever sees 10 rows; the path table itself is
    * event-type-alphabet³-bounded anyway). Scale shape: user-keyed
    * lag/cumsum session windows → (user, session)-keyed first-3 fold →
    * alphabet-bounded path rollup → top-10. Output: 10 rows.
    * HASH-MATCHED. */
  val q341 = QueryDef.oracle("q341_session_paths",
    s"""WITH $sessionCtes,
       |r AS (SELECT user_id, session_id, event_type,
       |        ROW_NUMBER() OVER (PARTITION BY user_id, session_id
       |          ORDER BY ts, event_id) AS rn
       |      FROM s),
       |p AS (SELECT user_id, session_id,
       |        string_agg(CASE WHEN rn <= 3 THEN event_type END, '>' ORDER BY rn)
       |          AS path,
       |        max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
       |      FROM r GROUP BY 1, 2),
       |t AS (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
       |        CAST(SUM(conv) AS BIGINT) AS n_converted
       |      FROM p GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_sessions) AS BIGINT) AS total FROM t)
       |SELECT path, n_sessions,
       |       CAST(n_sessions * 1000000 // total AS BIGINT) AS share_ppm,
       |       n_converted,
       |       CAST(n_converted * 1000000 // n_sessions AS BIGINT) AS conv_ppm,
       |       CAST(ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path) AS BIGINT)
       |         AS rnk
       |FROM t, tot
       |QUALIFY rnk <= 10""".stripMargin)(
    (s, d) => {
      // ONE (user, session)-keyed rollup does both the entry path and
      // the conversion flag — the first-3 fold rides sort_array over
      // the collected (ts, event_id, type) structs instead of paying a
      // second (user, session)-partitioned rank window (measured: the
      // window form cost 3.2 s isolated at sf0.1, this one 0.9)
      val p = sessionized(s, d).groupBy("user_id", "session_id")
        .agg(array_join(transform(slice(sort_array(collect_list(
            struct(col("ts"), col("event_id"), col("event_type")))), 1, 3),
            x => x.getField("event_type")), ">").as("path"),
          max(when(col("event_type") === "purchase", 1).otherwise(0)).as("conv"))
      val t = p.groupBy("path").agg(count(lit(1)).as("n_sessions"),
        sum("conv").as("n_converted"))
      val tot = t.agg(sum("n_sessions").as("total"))
      val top = t.crossJoin(broadcast(tot))
        .orderBy(col("n_sessions").desc, col("path")).limit(10)
      top.withColumn("rnk", row_number().over(
          Window.orderBy(col("n_sessions").desc, col("path"))).cast("long"))
        .select(col("path"), col("n_sessions"),
          expr("CAST(n_sessions * 1000000 div total AS BIGINT)").as("share_ppm"),
          col("n_converted"),
          expr("CAST(n_converted * 1000000 div n_sessions AS BIGINT)")
            .as("conv_ppm"),
          col("rnk"))
    })

  /** TRAFFIC FORECAST BACKTEST — the capacity-planning question next to
    * q212's anomaly flags and q330's autocorrelation: which trivial
    * forecaster earns the right to be the baseline? Both candidates are
    * priced on the SAME backtest days (days having BOTH predecessors,
    * so the comparison is paired): naive-1 (yesterday's count) and
    * seasonal-naive-7 (same weekday last week — the winner whenever
    * q330 shows a weekly cycle). Exact integers end to end: per-day
    * absolute error, MAE in milli-events, and mean APE in ppm with each
    * day's |err|·10⁶ div actual summed then divided — no float
    * accumulation. The lag lookups are day-KEYED self-joins on the
    * |days|-bounded rollup (no window at all, zero-key or otherwise).
    * Scale shape: one fact scan → day rollup (map-side combined) → two
    * keyed self-joins → 2-row report. Output: one row per forecaster.
    * HASH-MATCHED. */
  val q346 = QueryDef.oracle("q346_forecast_backtest",
    """WITH dy AS (SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
      |              CAST(count(*) AS BIGINT) AS n
      |            FROM events GROUP BY 1),
      |bt AS (SELECT d.day, d.n, p1.n AS f_naive1, p7.n AS f_seasonal7
      |       FROM dy d JOIN dy p1 ON p1.day = d.day - 1
      |                 JOIN dy p7 ON p7.day = d.day - 7),
      |errs AS (SELECT 'naive_1' AS forecaster, day, n,
      |           abs(n - f_naive1) AS abs_err FROM bt
      |         UNION ALL
      |         SELECT 'seasonal_naive_7', day, n,
      |           abs(n - f_seasonal7) FROM bt)
      |SELECT forecaster, CAST(count(*) AS BIGINT) AS n_days,
      |       CAST(SUM(abs_err) AS BIGINT) AS sum_abs_err,
      |       CAST(SUM(abs_err) * 1000 // count(*) AS BIGINT) AS mae_milli,
      |       CAST(SUM(abs_err * 1000000 // n) // count(*) AS BIGINT)
      |         AS mape_ppm
      |FROM errs GROUP BY 1""".stripMargin)(
    (s, d) => {
      val dy = Tables.events(s, d)
        .select(expr("CAST(unix_timestamp(ts) div 86400 AS BIGINT)").as("day"))
        .groupBy("day").agg(count(lit(1)).as("n"))
        .localCheckpoint(false) // three aligned reads of one rollup
      val bt = dy
        .join(dy.select((col("day") + 1).as("day"), col("n").as("f_naive1")),
          Seq("day"))
        .join(dy.select((col("day") + 7).as("day"), col("n").as("f_seasonal7")),
          Seq("day"))
      val errs = bt.select(lit("naive_1").as("forecaster"), col("day"),
          col("n"), abs(col("n") - col("f_naive1")).as("abs_err"))
        .unionByName(bt.select(lit("seasonal_naive_7").as("forecaster"),
          col("day"), col("n"),
          abs(col("n") - col("f_seasonal7")).as("abs_err")))
      errs.groupBy("forecaster")
        .agg(count(lit(1)).as("n_days"), sum("abs_err").as("sum_abs_err"),
          sum(expr("abs_err * 1000000 div n")).as("ape_sum"))
        .select(col("forecaster"), col("n_days"), col("sum_abs_err"),
          expr("CAST(sum_abs_err * 1000 div n_days AS BIGINT)").as("mae_milli"),
          expr("CAST(ape_sum div n_days AS BIGINT)").as("mape_ppm"))
    })

  /** CUSUM CHANGEPOINT MONITOR (Page 1954) — per event type, the
    * classic one-sided cumulative-sum chart over daily volumes: S_d =
    * max(0, S_{d−1} + (x_d − ref − k)), alarm when S_d crosses h. The
    * sequential recurrence is the textbook shape; this computes it
    * CLOSED-FORM so no per-row loop and no cross-day dependency chain
    * survives: S_d = prefix_d − min(0, min_{j≤d} prefix_j) over the
    * deviation prefix sums — two type-keyed windows (cumsum + running
    * min), exactly the trick q78's SCD2 islands and q126's gap-fill
    * already lean on. Knobs are self-calibrating and exact: ref =
    * per-type mean daily volume in micro units (floor division),
    * slack k = ref/8 (12.5% allowance — drift below that never
    * accumulates), threshold h = ref (alarm once the cumulated excess
    * beyond slack reaches one mean day's volume). All arithmetic in
    * DECIMAL(38,0)/HUGEINT (x·10⁶ prefix sums pass int64 near 10¹³
    * daily events — the q350 lesson); the S column ships as VARCHAR
    * digits (q149 wire), ref as BIGINT (mean·10⁶ — int64-safe to
    * ~9·10¹² events/day, documented). Complements q212 (seasonal
    * z-outliers: single-day spikes) and q252 (Mann–Kendall: monotone
    * trend) — CUSUM is the one that catches a SUSTAINED small shift
    * fastest, the drift mode ingestion monitors actually page on.
    * Scale shape: event scan → (type, day) rollup (map-side combined)
    * → type-keyed windows over the bounded day axis → |types|·|days|
    * report rows. HASH-MATCHED. */
  val q369 = QueryDef.oracle("q369_cusum_drift",
    """WITH dc AS (SELECT event_type,
      |        CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
      |        CAST(count(*) AS BIGINT) AS x
      |      FROM events GROUP BY 1, 2),
      |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |        SUM(CAST(x AS HUGEINT)) * 1000000 // count(*) AS ref_micro
      |      FROM dc GROUP BY 1),
      |dev AS (SELECT d.event_type, d.day, d.x, s.ref_micro,
      |        CAST(d.x AS HUGEINT) * 1000000 - s.ref_micro
      |          - (s.ref_micro // 8) AS dev_micro
      |      FROM dc d JOIN st s USING (event_type)),
      |pre AS (SELECT event_type, day, x, ref_micro,
      |        SUM(dev_micro) OVER (PARTITION BY event_type ORDER BY day
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          AS prefix_micro
      |      FROM dev),
      |mn AS (SELECT event_type, day, x, ref_micro, prefix_micro,
      |        MIN(prefix_micro) OVER (PARTITION BY event_type ORDER BY day
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          AS run_min
      |      FROM pre)
      |SELECT event_type, day, x, CAST(ref_micro AS BIGINT) AS ref_micro,
      |  CAST(prefix_micro - least(CAST(0 AS HUGEINT), run_min) AS VARCHAR)
      |    AS cusum_micro,
      |  CASE WHEN prefix_micro - least(CAST(0 AS HUGEINT), run_min)
      |         > ref_micro THEN CAST(1 AS BIGINT)
      |       ELSE CAST(0 AS BIGINT) END AS alarm
      |FROM mn""".stripMargin)(
    (s, d) => {
      val dc = Tables.events(s, d)
        .select(col("event_type"),
          expr("CAST(unix_timestamp(ts) div 86400 AS BIGINT)").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("x")) // stats + deviation walk
      val st = dc.groupBy("event_type").agg(count(lit(1)).as("n_days"),
        expr("CAST(SUM(CAST(x AS DECIMAL(38,0))) * 1000000 div count(*)" +
          " AS DECIMAL(38,0))").as("ref_micro"))
      val dev = dc.join(st, Seq("event_type"))
        .withColumn("dev_micro",
          expr("CAST(x AS DECIMAL(38,0)) * 1000000 - ref_micro" +
            " - CAST(ref_micro div 8 AS DECIMAL(38,0))"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val walk = dev
        .withColumn("prefix_micro",
          sum("dev_micro").over(w).cast("decimal(38,0)"))
        .withColumn("run_min", min("prefix_micro").over(w))
      walk.select(col("event_type"), col("day"), col("x"),
        col("ref_micro").cast("long").as("ref_micro"),
        (col("prefix_micro")
          - least(lit(0).cast("decimal(38,0)"), col("run_min")))
          .cast("decimal(38,0)").cast("string").as("cusum_micro"),
        when(col("prefix_micro")
          - least(lit(0).cast("decimal(38,0)"), col("run_min"))
          > col("ref_micro"), lit(1L)).otherwise(lit(0L)).as("alarm"))
    })

  /** THEIL–SEN ROBUST TREND (median of pairwise slopes, Sen 1968) — the
    * slope companion to q252's Mann–Kendall verdict: MK says WHETHER
    * daily volume trends, Theil–Sen says HOW FAST, and unlike q346's
    * OLS-style fits a single collapsed day cannot drag it (breakdown
    * point ~29%). Per event type over daily counts: every day pair
    * (i < j) contributes slope (x_j − x_i)·10⁶ div (d_j − d_i) (exact
    * integer division, the q348 sign convention both engines share);
    * the median is the mean of the two middle elements under a
    * type-KEYED rank window (2·rnk ∈ {m, m+1, m+2} — the even/odd
    * closed form, the Bench median convention). The OLS slope from
    * exact DECIMAL moments (q348's algebra) ships next to it — the
    * ROBUSTNESS GAP between the two columns is the outlier-day signal.
    * Pair mass is |days|² per type — the day axis grows with TIME, not
    * data scale (the q369 class), so the keyed window is bounded.
    * Types with one day drop out (no pairs, OLS denominator zero —
    * guarded identically in both engines). HASH-MATCHED. */
  val q372 = QueryDef.oracle("q372_theil_sen",
    """WITH dc AS (SELECT event_type,
      |        CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
      |        CAST(count(*) AS BIGINT) AS x
      |      FROM events GROUP BY 1, 2),
      |pw AS (SELECT a.event_type,
      |        (b.x - a.x) * 1000000 // (b.day - a.day) AS slope_micro
      |      FROM dc a JOIN dc b ON a.event_type = b.event_type
      |        AND b.day > a.day),
      |rk AS (SELECT event_type, slope_micro,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY event_type
      |          ORDER BY slope_micro) AS BIGINT) AS rnk,
      |        CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS m
      |      FROM pw),
      |med AS (SELECT event_type, CAST(max(m) AS BIGINT) AS n_pairs,
      |        CAST(round(SUM(slope_micro) / CAST(count(*) AS DOUBLE))
      |          AS BIGINT) AS ts_slope_micro
      |      FROM rk WHERE 2 * rnk IN (m, m + 1, m + 2) GROUP BY 1),
      |ols AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |        CAST(count(*) AS HUGEINT) AS n,
      |        CAST(SUM(day) AS HUGEINT) AS sd,
      |        CAST(SUM(x) AS HUGEINT) AS sx,
      |        SUM(CAST(day AS HUGEINT) * x) AS sdx,
      |        SUM(CAST(day AS HUGEINT) * day) AS sdd
      |      FROM dc GROUP BY 1)
      |SELECT o.event_type, o.n_days, m.n_pairs, m.ts_slope_micro,
      |  CAST((o.n * o.sdx - o.sd * o.sx) * 1000000
      |       // (o.n * o.sdd - o.sd * o.sd) AS BIGINT) AS ols_slope_micro
      |FROM ols o JOIN med m USING (event_type)
      |WHERE o.n * o.sdd - o.sd * o.sd <> 0""".stripMargin)(
    (s, d) => {
      val dc = Tables.events(s, d)
        .select(col("event_type"),
          expr("CAST(unix_timestamp(ts) div 86400 AS BIGINT)").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
        .localCheckpoint(false) // pair join (twice) + OLS moments
      val pw = dc.select(col("event_type"), col("day").as("da"),
          col("x").as("xa"))
        .join(dc.select(col("event_type"), col("day").as("db"),
          col("x").as("xb")), Seq("event_type"))
        .filter(col("db") > col("da"))
        .select(col("event_type"),
          expr("(xb - xa) * 1000000 div (db - da)").as("slope_micro"))
      val w = Window.partitionBy("event_type").orderBy("slope_micro")
      val rk = pw
        .withColumn("rnk", row_number().over(w).cast("long"))
        .withColumn("m", count(lit(1))
          .over(Window.partitionBy("event_type")).cast("long"))
      val med = rk
        .filter(col("rnk") * 2 === col("m") ||
          col("rnk") * 2 === col("m") + 1 || col("rnk") * 2 === col("m") + 2)
        .groupBy("event_type").agg(max("m").as("n_pairs"),
          expr("CAST(round(SUM(slope_micro) / CAST(count(*) AS DOUBLE))" +
            " AS BIGINT)").as("ts_slope_micro"))
      val ols = dc.groupBy("event_type").agg(
        count(lit(1)).as("n_days"),
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum("day").cast("decimal(38,0)").as("sd"),
        sum("x").cast("decimal(38,0)").as("sx"),
        sum(col("day").cast("decimal(38,0)") * col("x")).as("sdx"),
        sum(col("day").cast("decimal(38,0)") * col("day")).as("sdd"))
      ols.join(med, Seq("event_type"))
        .filter(expr("n * sdd - sd * sd <> 0"))
        .select(col("event_type"), col("n_days"), col("n_pairs"),
          col("ts_slope_micro"),
          expr("CAST((n * sdx - sd * sx) * 1000000" +
            " div (n * sdd - sd * sd) AS BIGINT)").as("ols_slope_micro"))
    })

  /** DELETE-1-DAY JACKKNIFE FOR A RATIO METRIC (Quenouille/Tukey; the
    * q344 subtractive lesson applied to UNCERTAINTY): the mean event
    * value per event (Σvalue/n) is a ratio of sums, so its variance
    * has no closed per-row form — the jackknife is the standard
    * estimator, and every delete-1 replicate is pure SUBTRACTION from
    * one (type, day) rollup: r_(i) = (S − s_i) div (N − n_i), already
    * in micro because values integerized at the scan —
    * never a re-scan per replicate. Values integerize at the scan
    * (round(value·10⁶) — float sums are order-dependent, integer sums
    * are not), replicates are exact integer micro-ratios, their spread
    * Σ(r_i − r̄)² accumulates in DECIMAL(38,0) and ships as VARCHAR
    * digits; only the bounded columns (ratio, standard error, CI
    * bounds — micro units) cast to BIGINT, with the jackknife factor
    * √((d−1)/d · Σ/d) computed through the IDENTICAL double tree in
    * both engines. Day axis = time-bounded (the q369/q372 class), so
    * per-type replicate sets are small; single-day types drop (a
    * jackknife needs d ≥ 2). HASH-MATCHED. */
  val q373 = QueryDef.oracle("q373_ratio_jackknife",
    """WITH dv AS (SELECT event_type,
      |        CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
      |        CAST(count(*) AS BIGINT) AS n_i,
      |        CAST(SUM(CAST(round(value * 1000000) AS BIGINT))
      |          AS HUGEINT) AS s_i
      |      FROM events GROUP BY 1, 2),
      |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS d,
      |        CAST(SUM(n_i) AS HUGEINT) AS n_tot, SUM(s_i) AS s_tot
      |      FROM dv GROUP BY 1),
      |rep AS (SELECT dv.event_type, t.d, t.n_tot, t.s_tot,
      |        (t.s_tot - dv.s_i) // (t.n_tot - dv.n_i) AS r_i
      |      FROM dv JOIN tot t USING (event_type)
      |      WHERE t.d >= 2 AND t.n_tot > dv.n_i),
      |mu AS (SELECT event_type, CAST(max(d) AS BIGINT) AS n_days,
      |        CAST(max(n_tot) AS BIGINT) AS n_events,
      |        CAST(max(s_tot) // max(n_tot) AS BIGINT) AS ratio_micro,
      |        CAST(SUM(r_i) // count(*) AS BIGINT) AS rbar_micro
      |      FROM rep GROUP BY 1),
      |vs AS (SELECT r.event_type, m.n_days, m.n_events, m.ratio_micro,
      |        CAST(SUM(CAST(r.r_i - m.rbar_micro AS HUGEINT)
      |             * (r.r_i - m.rbar_micro)) AS DECIMAL(38,0)) AS ss
      |      FROM rep r JOIN mu m USING (event_type)
      |      GROUP BY 1, 2, 3, 4)
      |SELECT event_type, n_days, n_events, ratio_micro,
      |  CAST(ss AS VARCHAR) AS jk_ss,
      |  CAST(round(sqrt((CAST(n_days AS DOUBLE) - 1)
      |       / CAST(n_days AS DOUBLE)
      |       * (CAST(ss AS DOUBLE) / CAST(n_days AS DOUBLE))))
      |    AS BIGINT) AS se_micro,
      |  ratio_micro - CAST(round(1.96 * round(sqrt(
      |       (CAST(n_days AS DOUBLE) - 1) / CAST(n_days AS DOUBLE)
      |       * (CAST(ss AS DOUBLE) / CAST(n_days AS DOUBLE)))))
      |    AS BIGINT) AS ci_lo_micro,
      |  ratio_micro + CAST(round(1.96 * round(sqrt(
      |       (CAST(n_days AS DOUBLE) - 1) / CAST(n_days AS DOUBLE)
      |       * (CAST(ss AS DOUBLE) / CAST(n_days AS DOUBLE)))))
      |    AS BIGINT) AS ci_hi_micro
      |FROM vs""".stripMargin)(
    (s, d) => {
      val dv = Tables.events(s, d)
        .select(col("event_type"),
          expr("CAST(unix_timestamp(ts) div 86400 AS BIGINT)").as("day"),
          expr("CAST(round(value * 1000000) AS BIGINT)").as("v_micro"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("n_i"),
          sum("v_micro").cast("decimal(38,0)").as("s_i")) // totals + replicates
      val tot = dv.groupBy("event_type").agg(count(lit(1)).as("d"),
        sum("n_i").cast("decimal(38,0)").as("n_tot"),
        sum("s_i").cast("decimal(38,0)").as("s_tot"))
      val rep = dv.join(tot, Seq("event_type"))
        .filter(col("d") >= 2 && col("n_tot") > col("n_i"))
        .select(col("event_type"), col("d"), col("n_tot"), col("s_tot"),
          expr("(s_tot - s_i) div (n_tot - n_i)").as("r_i")) // mean pass + spread pass
      val mu = rep.groupBy("event_type").agg(
        max("d").cast("long").as("n_days"),
        max("n_tot").cast("long").as("n_events"),
        expr("CAST(max(s_tot) div max(n_tot) AS BIGINT)").as("ratio_micro"),
        expr("CAST(SUM(r_i) div count(*) AS BIGINT)").as("rbar_micro"))
      val vs = rep.join(mu, Seq("event_type"))
        .groupBy("event_type", "n_days", "n_events", "ratio_micro")
        .agg(sum(expr("CAST(r_i - rbar_micro AS DECIMAL(38,0))" +
          " * (r_i - rbar_micro)")).cast("decimal(38,0)").as("ss"))
      val seExpr =
        "round(sqrt((CAST(n_days AS DOUBLE) - 1) / CAST(n_days AS DOUBLE)" +
          " * (CAST(ss AS DOUBLE) / CAST(n_days AS DOUBLE))))"
      vs.select(col("event_type"), col("n_days"), col("n_events"),
        col("ratio_micro"),
        col("ss").cast("string").as("jk_ss"),
        expr(s"CAST($seExpr AS BIGINT)").as("se_micro"),
        expr(s"ratio_micro - CAST(round(1.96 * $seExpr) AS BIGINT)")
          .as("ci_lo_micro"),
        expr(s"ratio_micro + CAST(round(1.96 * $seExpr) AS BIGINT)")
          .as("ci_hi_micro"))
    })

  /** WEEKLY SEASONALITY STRENGTH (one-way variance decomposition on
    * day-of-week) — the number that says whether q369's CUSUM and
    * q212's z-outliers should run on DESEASONALIZED volumes: strength
    * = SS_between(dow)/SS_total ∈ [0,1]; near 1 ⇒ a flat mean ref is
    * mostly modeling the weekday cycle, near 0 ⇒ weekday-blind alerts
    * are fine. Exact the q368 way: SS_total·n = n·Σx² − S² needs no
    * mean, and the between term Σ_w S_w²/n_w lands each dow group as
    * an exact micro integer division FIRST (7-bounded axis), then
    * sums in DECIMAL(38,0) — never a float sum across rows; the two
    * micro-scaled SS columns ship as VARCHAR digits, strength in ppm
    * by one exact division (NULL when total SS is 0 — a flat series
    * has no seasonality to measure). dow = epoch-day mod 7 (a stable
    * 7-class label; both engines compute the identical residue).
    * Oracle-side big-int arithmetic stays HUGEINT THROUGHOUT (q348's
    * idiom): DECIMAL(38,0)×DECIMAL(38,0) needs precision 76 so DuckDB
    * promotes it to DOUBLE, and a DECIMAL//HUGEINT mix promotes too —
    * double // does not floor and the BIGINT cast rounds; both were
    * caught here as one-micro strength divergences at sf0.001.
    * Scale shape: (type, day) rollup → 7-bounded (type, dow) rollup →
    * |types|-row report. HASH-MATCHED. */
  val q374 = QueryDef.oracle("q374_seasonality_strength",
    """WITH dc AS (SELECT event_type,
      |        CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
      |        CAST(count(*) AS BIGINT) AS x
      |      FROM events GROUP BY 1, 2),
      |dw AS (SELECT event_type, day % 7 AS dow,
      |        CAST(count(*) AS HUGEINT) AS n_w,
      |        CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS s_w
      |      FROM dc GROUP BY 1, 2),
      |tw AS (SELECT event_type,
      |        CAST(SUM(s_w * s_w * 1000000 // n_w) AS HUGEINT) AS sum_t
      |      FROM dw GROUP BY 1),
      |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |        CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS s,
      |        CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      |      FROM dc GROUP BY 1)
      |SELECT s.event_type, s.n_days, CAST(s.s AS BIGINT) AS n_events,
      |  CAST(t.sum_t - (s.s * s.s * 1000000 // CAST(s.n_days AS HUGEINT)) AS VARCHAR)
      |    AS ss_between_micro,
      |  CAST(s.sxx * 1000000 - (s.s * s.s * 1000000 // CAST(s.n_days AS HUGEINT))
      |    AS VARCHAR) AS ss_total_micro,
      |  CASE WHEN s.sxx * 1000000 - (s.s * s.s * 1000000 // CAST(s.n_days AS HUGEINT)) > 0
      |       THEN CAST((t.sum_t - (s.s * s.s * 1000000 // CAST(s.n_days AS HUGEINT)))
      |              * 1000000
      |            // (s.sxx * 1000000
      |                - (s.s * s.s * 1000000 // CAST(s.n_days AS HUGEINT))) AS BIGINT)
      |       END AS strength_ppm
      |FROM st s JOIN tw t USING (event_type)""".stripMargin)(
    (s, d) => {
      val dc = Tables.events(s, d)
        .select(col("event_type"),
          expr("CAST(unix_timestamp(ts) div 86400 AS BIGINT)").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("x")) // dow rollup + totals
      val dw = dc.groupBy(col("event_type"), (col("day") % 7).as("dow"))
        .agg(count(lit(1)).as("n_w"),
          sum("x").cast("decimal(38,0)").as("s_w"))
      val tw = dw.groupBy("event_type")
        .agg(sum(expr("s_w * s_w * 1000000 div n_w"))
          .cast("decimal(38,0)").as("sum_t"))
      val st = dc.groupBy("event_type").agg(count(lit(1)).as("n_days"),
        sum("x").cast("decimal(38,0)").as("s"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
      st.join(tw, Seq("event_type"))
        .select(col("event_type"), col("n_days"),
          col("s").cast("long").as("n_events"),
          expr("CAST(sum_t - (s * s * 1000000 div n_days)" +
            " AS DECIMAL(38,0))").cast("string").as("ss_between_micro"),
          expr("CAST(sxx * 1000000 - (s * s * 1000000 div n_days)" +
            " AS DECIMAL(38,0))").cast("string").as("ss_total_micro"),
          expr("CASE WHEN sxx * 1000000 - (s * s * 1000000 div n_days) > 0" +
            " THEN CAST((sum_t - (s * s * 1000000 div n_days)) * 1000000" +
            " div (sxx * 1000000 - (s * s * 1000000 div n_days))" +
            " AS BIGINT) END").as("strength_ppm"))
    })

  /** INDEX OF DISPERSION (variance-to-mean of daily volume, per type)
    * — the Poisson sanity check behind every count-based alert
    * threshold (q369's CUSUM slack, q212's z cutoff assume noise near
    * Poisson; overdispersed types need wider bands or a negative-
    * binomial model, underdispersed ones are rate-limited/synthetic):
    * D = var/mean reduces to ONE exact integer division, (n·Σx² − S²)
    * ·10⁶ div (n·S) — population variance over mean, no intermediate
    * mean, no float — with the moment algebra in DECIMAL(38,0)/HUGEINT
    * (Σx²·10⁶ passes int64 early; the q350 lesson) and only the
    * bounded micro statistic cast to BIGINT (int64-safe while
    * var/mean < 9·10¹² — any real event feed). Verdict bands:
    * < 0.75 under, ≤ 4/3 poisson, else over (exact integer
    * thresholds). Scale shape: (type, day) rollup → |types|-row
    * report. HASH-MATCHED. */
  val q375 = QueryDef.oracle("q375_dispersion_index",
    """WITH dc AS (SELECT event_type,
      |        CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
      |        CAST(count(*) AS BIGINT) AS x
      |      FROM events GROUP BY 1, 2),
      |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |        SUM(CAST(x AS HUGEINT)) AS s,
      |        SUM(CAST(x AS HUGEINT) * x) AS sxx
      |      FROM dc GROUP BY 1)
      |SELECT event_type, n_days, CAST(s AS BIGINT) AS n_events,
      |  CAST(s * 1000 // n_days AS BIGINT) AS mean_milli,
      |  CAST((n_days * sxx - s * s) * 1000000 // (n_days * s) AS BIGINT)
      |    AS dispersion_micro,
      |  CASE WHEN (n_days * sxx - s * s) * 1000000 // (n_days * s)
      |         < 750000 THEN 'under'
      |       WHEN (n_days * sxx - s * s) * 1000000 // (n_days * s)
      |         <= 1333333 THEN 'poisson'
      |       ELSE 'over' END AS verdict
      |FROM st WHERE s > 0""".stripMargin)(
    (s, d) => {
      val st = Tables.events(s, d)
        .select(col("event_type"),
          expr("CAST(unix_timestamp(ts) div 86400 AS BIGINT)").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
        .groupBy("event_type").agg(count(lit(1)).as("n_days"),
          sum("x").cast("decimal(38,0)").as("s"),
          sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
      st.filter(col("s") > 0)
        .select(col("event_type"), col("n_days"),
          col("s").cast("long").as("n_events"),
          expr("CAST(s * 1000 div n_days AS BIGINT)").as("mean_milli"),
          expr("CAST((n_days * sxx - s * s) * 1000000 div (n_days * s)" +
            " AS BIGINT)").as("dispersion_micro"),
          expr("CASE WHEN (n_days * sxx - s * s) * 1000000" +
            " div (n_days * s) < 750000 THEN 'under'" +
            " WHEN (n_days * sxx - s * s) * 1000000 div (n_days * s)" +
            " <= 1333333 THEN 'poisson' ELSE 'over' END").as("verdict"))
    })

  val defs: Seq[QueryDef] =
    Seq(q30, q31, q32, q33, q34, q95, q132, q133, q137, q212, q230, q233,
      q234, q242, q247, q252, q261, q264, q265, q267, q268, q271, q272, q273,
      q284, q285, q297, q305, q313, q317, q319, q323, q326, q327, q330, q334,
      q341, q346, q369, q372, q373, q374, q375)
}
