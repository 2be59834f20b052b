package graft

/** Pins README.md's query-ledger counts to `SparkEntry` so the prose
  * cannot drift from the contract again (the round-10 verdict caught
  * "238 of 243" three operators stale). The README line must read
  * "<oracled> of <total> queries carry a DuckDB oracle" where both
  * numbers come from `SparkEntry.allDefs` — update the README when
  * adding queries, or this fails the build.
  */
class ReadmeLedgerSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("README rows-only ledger counts match SparkEntry") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val m = """(\d+) of (\d+) queries carry a DuckDB oracle""".r
      .findFirstMatchIn(readme)
      .getOrElse(fail("README ledger line not found"))
    val total = SparkEntry.allDefs.size
    val oracled = SparkEntry.allDefs.count(_.sql.isDefined)
    assert(m.group(1).toInt == oracled && m.group(2).toInt == total,
      s"README says '${m.matched}' but SparkEntry has $oracled of $total")
  }

  test("every runMain the docs and usage lines cite names a class with a static main") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    def walk(dir: String, ext: String): Seq[Path] = {
      val s = Files.walk(Paths.get(dir))
      try s.iterator().asScala.filter(_.toString.endsWith(ext)).toList finally s.close()
    }
    // historical records (BASELINE.md, VERDICT.md, CHANGES.md, ...) may
    // name mains that no longer exist; the runnable docs may not
    val files = Seq(Paths.get("README.md"), Paths.get(".claude/skills/verify/SKILL.md"))
      .filter(Files.exists(_)) ++ walk("docs", ".md") ++ walk("src/main", ".scala")
    val cited = files.flatMap { f =>
      """runMain (graft\.[\w.]*\w)""".r.findAllMatchIn(Files.readString(f)).map(f -> _.group(1))
    }
    assert(cited.map(_._2).toSet.contains("graft.tools.Inspect"), cited)
    val broken = cited.filterNot { case (_, cls) =>
      scala.util.Try(Class.forName(cls).getMethod("main", classOf[Array[String]]))
        .toOption.exists(m => java.lang.reflect.Modifier.isStatic(m.getModifiers))
    }
    assert(broken.isEmpty, s"cited mains that do not exist: $broken")
  }

  test("the rows-only set is EMPTY — every query carries a DuckDB oracle") {
    // q25/q51/q55 left this set in round 12 (portable re-key); q72
    // (byte-stripe stub features) and q76 (stable-fixture DSv2 replay)
    // left it in round 13. A new rows-only query needs a documented
    // structural impossibility, not convenience.
    val rowsOnly = SparkEntry.allDefs.filter(_.sql.isEmpty).map(_.name).toSet
    assert(rowsOnly.isEmpty, s"rows-only set grew: $rowsOnly")
  }
}
