package graft.pipeline

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-city batch watermark state — the reference's incremental-load
  * mechanism (ref: last_update.txt parsed at build_database.py:97-102,
  * rewritten at :150-159).
  *
  * Semantics preserved exactly:
  *   - filter is strict `>` (the boundary row is NOT reloaded);
  *   - missing key defaults to the epoch-ish floor, i.e. full load.
  * Semantics intentionally fixed (SURVEY.md §8.6): the watermark only
  * advances when the filtered batch is non-empty — the reference writes
  * the stringified NaN-date ("NaT") on empty batches, poisoning the next
  * run.
  *
  * State lives in a tiny driver-side text file, format `KEY value` one
  * per line. At 100 TB this is still correct — watermarks are per-source
  * scalars, not data-sized; a Delta table or a metastore property would
  * be drop-in replacements.
  */
object Watermarks {

  val Epoch = "1900-01-01 00:00:00"
  val Keys: Seq[String] = Seq("BUDA_date_max", "LON_date_max", "NYC_date_max")

  private val TsPattern = """\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}(\.\d+)?""".r

  /** Tolerant read: lines without a value and values that aren't
    * timestamps (the reference's own empty-batch bug writes the literal
    * "NaT" — SURVEY.md §8.6) are DROPPED, which falls back to the epoch
    * floor, i.e. a full reload — safe-by-default. A malformed state file
    * must never poison the incremental filter (under ANSI mode a bad
    * value would otherwise crash the cast; with ANSI off it would
    * silently filter out the whole feed forever).
    */
  def read(path: String): Map[String, String] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala
      .map(_.trim).filter(_.nonEmpty)
      .flatMap { line =>
        line.split(" ", 2) match {
          case Array(k, v) if TsPattern.matches(v.trim) => Some(k -> v.trim)
          case _ => None
        }
      }.toMap
  }

  /** Replaces the state file whole: the body goes to a sibling temp file
    * that is then renamed over `path` atomically, so a crash mid-write
    * leaves either the old file or the new one, never a truncated one.
    */
  def write(path: String, wm: Map[String, String]): Unit = {
    val body = Keys.flatMap(k => wm.get(k).map(v => s"$k $v")).mkString("\n") + "\n"
    val target = Paths.get(path).toAbsolutePath
    val tmp = Files.createTempFile(target.getParent, s".${target.getFileName}", ".tmp")
    try {
      Files.writeString(tmp, body)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  /** Strict-> incremental filter on `dateOfSale` — Catalyst pushes this
    * into the scan (ref: build_database.py:114-116).
    */
  def filterNewerThan(df: DataFrame, watermark: Option[String]): DataFrame =
    df.filter(col("dateOfSale") >
      lit(watermark.getOrElse(Epoch)).cast("timestamp"))
}
