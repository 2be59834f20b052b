package graft
object Bench {
  /** Extract the per-query timing map from a previous bench record, for
    * the >1.5×-previous-round stall-recheck trigger. Accepts BOTH wire
    * shapes: a plain `bench.json` line, and the driver's `BENCH_r*.json`
    * which wraps that line ESCAPED inside a "tail" string
    * (`\"q17_poc_analysis\":0.709`). Records are matched PER LINE: a
    * file holding records for several scale factors (e.g. a bench.json
    * appended across sf runs) contributes only the lines whose own sf
    * matches this run — a whole-file sf gate would harvest every
    * q*:number pair in the file once ANY record matched, mixing foreign
    * -sf timings into the 1.5× recheck map. (Both wire shapes are
    * single-line JSON records, so line = record.) Unit-tested
    * (BenchPrevParseSpec). */
  private[graft] def parsePrevQueries(txt: String, sfDir: String): Map[String, Double] = {
    // full JSON-number grammar incl. negative exponents: bench.json
    // values come from Double.toString, which emits E-notation below
    // 1e-3 ("9.5E-4") — a character class like [0-9.eE+]+ would capture
    // "9.5E" and blow up toDouble; toDoubleOption guards the rest
    val numRe =
      raw"""(q[0-9][A-Za-z0-9_]*)\\?":(-?[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)""".r
    txt.linesIterator.filter { line =>
      line.contains("\"sf\":" + Json.q(sfDir)) ||
        line.contains("\\\"sf\\\":" + Json.q(sfDir).replace("\"", "\\\""))
    }.flatMap(line => numRe.findAllMatchIn(line)
      .flatMap(m => m.group(2).toDoubleOption.map(m.group(1) -> _))).toMap
  }

  /** Carried-vs-new decomposition of a sweep against the previous-round
    * map (r13 verdict #2: "carried flat" must be a COMPUTED number, not
    * a spot check — the r13 close spot-checked three heavies and missed
    * a broad +12% tail). Returns (carriedN, carriedSec, carriedPrevSec,
    * medianPerQueryRatio, newN, newSec, prevFailedN, prevFailedSec);
    * failures (-1 timings this round) are excluded everywhere, the
    * median of an even-sized ratio list is the MEAN of the two middle
    * elements (the r14 advisor: taking the upper element biases the
    * carried evidence upward), and a query that FAILED in the previous
    * round (prev present but ≤ 0) is its own bucket — folding it into
    * "new ops" inflated new_sec with queries that are anything but new.
    * Unit-tested (BenchPrevParseSpec). */
  private[graft] def carriedDelta(results: Map[String, Double],
      prev: Map[String, Double])
      : (Int, Double, Double, Double, Int, Double, Int, Double) = {
    val ok = results.filter(_._2 >= 0)
    val carried = ok.filter { case (k, _) => prev.get(k).exists(_ > 0) }
    val prevFailed = ok.filter { case (k, _) => prev.get(k).exists(_ <= 0) }
    val newOnes = ok.filter { case (k, _) => !prev.contains(k) }
    val ratios = carried.map { case (k, v) => v / prev(k) }.toSeq.sorted
    val med =
      if (ratios.isEmpty) 0.0
      else if (ratios.size % 2 == 1) ratios(ratios.size / 2)
      else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2
    (carried.size, carried.values.sum, carried.keys.map(prev).sum, med,
      newOnes.size, newOnes.values.sum, prevFailed.size,
      prevFailed.values.sum)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()
    // optional comma-separated name filter for timing single queries while
    // iterating; the driver never sets it, so default behavior is unchanged
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    only.foreach { ks =>
      val unknown = ks -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(s"[bench] unknown names in SPARK_GRAFT_BENCH_ONLY: ${unknown.mkString(",")}")
    }
    val selected = only.fold(SparkEntry.queries)(ks =>
      SparkEntry.queries.filter { case (k, _) => ks(k) })

    // Materialize through the PHYSICAL plan (toRdd), not count(): count()
    // lets Catalyst prune every projected column, so a projection-only
    // query (or the whole MinHash kernel of q51) would be "benchmarked"
    // without ever executing its work.
    def run(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Boolean =
      try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
      catch { case e: Throwable => System.err.println(s"[bench] error: $e"); false }

    def timeOnce(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok = run(fn)
      val dt = (System.nanoTime() - t0) / 1e9
      if (!ok) System.err.println(s"[bench] $name FAILED")
      if (ok) dt else -1.0 // a failure must not masquerade as a fast success
    }
    val byName = selected.toSeq.sortBy(_._1)
    // warm EVERY selected query once before timing any (codegen
    // compilation, parquet footers, JIT): warming each just before its
    // own runs left the first name in the sort timing a JVM that had
    // warmed nothing else, so q17, the usual control, read noisiest
    byName.foreach { case (_, fn) => run(fn) }
    val firstPass = byName.map { case (name, fn) =>
      // min of three timed runs: GC/JIT/system noise only ever ADDS
      // time, so the minimum is the better steady-state estimate — three
      // because a single host-level stall has been observed outlasting a
      // warm-up + two runs
      val times = (1 to 3).map(_ => timeOnce(name, fn))
      name -> (if (times.exists(_ >= 0)) times.filter(_ >= 0).min else -1.0)
    }.toMap
    // Stall recheck (round-6 evidence: a host stall outlasted warm-up +
    // all three runs of q155, recording 8.26 s for a ~1.1 s query — a
    // min-of-N taken inside one time window cannot see through a stall
    // that covers the window). Queries whose min is an outlier against
    // the suite (> 3x the suite median, median immune to the outliers
    // being tested) get ONE more run now — temporally separated from
    // the original window by the rest of the sweep — and keep the
    // smaller number. Genuinely slow queries re-measure at their old
    // min (one extra run each, bounded); stalled ones come back real.
    //
    // Second trigger (round-7 lesson: q111 crept 0.78->1.26 s and q131
    // 0.63->0.85 s — both well under 3x the suite median, so the stall
    // recheck never fired and the creep couldn't be told from a plan
    // regression): ALSO recheck any query measuring > 1.5x its own
    // previous-round number. The reference map is the latest driver
    // BENCH_r*.json in the CWD whose sf matches this run (overridable
    // via SPARK_GRAFT_BENCH_PREV); absent/foreign-sf files disable the
    // trigger rather than mis-firing across scale factors.
    //
    // Round-10 widening: the driver's BENCH_r*.json compact tail only
    // carries the ~45 headline queries, so a stall on any other query
    // (r9's q151, 0.37 s measured 1.27 s) had no prev number and
    // escaped the recheck. Every sweep now APPENDS its full per-query
    // map to bench_history.jsonl (sf-tagged lines; parsePrevQueries
    // already filters per line, later lines win), and the reference is
    // that history overlaid with the driver tail — so EVERY query has
    // a prior number once one full sweep has run at this sf.
    val histPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_HIST", "bench_history.jsonl")
    val prevRound: Map[String, Double] = {
      // the WHOLE lookup — discovery included — must degrade to "no
      // prev map" on any failure (absurd round number, unreadable file,
      // weird encoding): a startup crash in the recheck helper would
      // kill the sweep before a single timing is written
      try {
        val explicit = sys.env.get("SPARK_GRAFT_BENCH_PREV")
        val latest = explicit.orElse {
          val re = raw"BENCH_r(\d+)\.json".r
          val dir = new java.io.File(".").listFiles()
          Option(dir).toSeq.flatten.flatMap(f => f.getName match {
            case re(n) => n.toIntOption.map((_, f.getPath))
            case _ => None
          }).sortBy(-_._1).headOption.map(_._2)
        }
        def mapOf(path: Option[String]): Map[String, Double] =
          path.map(java.nio.file.Paths.get(_)).filter(java.nio.file.Files.exists(_))
            .map(java.nio.file.Files.readString)
            .map(parsePrevQueries(_, sfDir)).getOrElse(Map.empty)
        // history first (full map), driver tail overlays where present
        mapOf(Some(histPath)) ++ mapOf(latest)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] prev-round map unavailable: $e")
        Map.empty
      }
    }
    val mins = firstPass.values.filter(_ >= 0).toSeq.sorted
    val recheckedNames = scala.collection.mutable.ArrayBuffer.empty[String]
    val results =
      if (mins.isEmpty) firstPass
      else {
        val median = mins(mins.size / 2)
        firstPass.map { case (name, v) =>
          if (v > 3 * median ||
              prevRound.get(name).exists(p => p > 0 && v > 1.5 * p)) {
            recheckedNames += name // ALL triggered rechecks, improved or not
            val again = timeOnce(name, selected(name))
            val best = if (again >= 0) math.min(v, again) else v
            System.err.println(
              f"[bench] $name stall-recheck: $v%.2f -> $best%.2f s" +
                (if (best < v) "" else " (confirmed slow)"))
            name -> best
          } else name -> v
        }
      }
    // every query the 3x-median rule TRIGGERED on — a name here with an
    // unchanged time means "rechecked and confirmed slow", the forensic
    // signal a stall adjudication needs (improved-only would be
    // indistinguishable from never-triggered)
    val rechecked = recheckedNames.toSeq.sorted
    val total = results.values.filter(_ >= 0).sum
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")

    // Carried-vs-new decomposition (r13 verdict #2): printed AND recorded
    // so "carried flat" is a computed number every sweep, not a sample.
    val (cN, cSec, cPrev, cMed, nN, nSec, pfN, pfSec) =
      carriedDelta(results, prevRound)
    if (only.isEmpty && cN > 0) System.err.println(String.format(
      java.util.Locale.ROOT,
      "[bench] carried subtotal: %.1f s over %d queries vs prev %.1f s (x%.3f total, x%.3f median per-query); new ops: %.1f s over %d; prev-failed recovered: %.1f s over %d",
      Double.box(cSec), Int.box(cN), Double.box(cPrev),
      Double.box(if (cPrev > 0) cSec / cPrev else 0.0), Double.box(cMed),
      Double.box(nSec), Int.box(nN), Double.box(pfSec), Int.box(pfN)))

    // Full-precision, every-query JSON goes to the file.
    val fullQs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => Json.q(k) + ":" + v }.mkString("{", ",", "}")
    val recheckedJson = rechecked.map(Json.q).mkString("[", ",", "]")
    val carriedJson =
      s"""{"n":$cN,"sec":$cSec,"prev_sec":$cPrev,"median_ratio":$cMed,"new_n":$nN,"new_sec":$nSec,"prev_failed_n":$pfN,"prev_failed_sec":$pfSec}"""
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$fullQs,"stall_rechecked":$recheckedJson,"carried":$carriedJson,"sf":${Json.q(sfDir)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[bench] wrote $outPath")
    // Full-suite sweeps only: an isolated SPARK_GRAFT_BENCH_ONLY run
    // pays artifact builds the full sweep amortizes (q150 measured
    // 1.55 s isolated vs 1.20 in-sweep), and an inflated prev number
    // would mask a real regression at the 1.5x gate.
    if (only.isEmpty) {
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(histPath),
          (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
        System.err.println(s"[bench] appended $histPath")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] history append failed: $e")
      }
    }

    // The stdout line is parsed out of a bounded tail of the captured output
    // (observed: last 2000 chars, with ~80 chars of sbt epilogue after our
    // line). A full 90+-query map is ~2.5k chars and gets truncated mid-line,
    // so the line would never parse. Emit a COMPACT line instead: totals for
    // everything, plus a headline per-query map — flagship first, then
    // slowest-descending (the timings that matter for the 2x gate) — cut off
    // so the whole line stays comfortably inside the tail window.
    val lineBudget = 1500
    // Locale.ROOT: the default-locale f-interpolator would print "0,959"
    // under e.g. de_DE and break the machine-parsed JSON line.
    def fmt(v: Double): String =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val flagship = "q17_poc_analysis"
    val ordered =
      results.toSeq.filter(_._1 == flagship) ++
        results.toSeq.filterNot(_._1 == flagship).sortBy(-_._2)
    val head = new StringBuilder(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries_all":${results.size},"full":${Json.q(outPath)},"sf":${Json.q(sfDir)},"queries":{""")
    // Stop at the FIRST entry that doesn't fit so the emitted map is a true
    // prefix of the slowest-first ordering (never silently skip a slow query
    // while including faster ones), and record how many were dropped.
    var first = true
    var dropped = 0
    var full = false
    ordered.foreach { case (k, v) =>
      val entry = (if (first) "" else ",") + Json.q(k) + ":" + fmt(v)
      if (full || head.length + entry.length + 32 > lineBudget) { full = true; dropped += 1 }
      else { head.append(entry); first = false }
    }
    head.append("},\"dropped\":" + dropped + "}")
    println(head.toString)
    spark.stop()
  }
}
