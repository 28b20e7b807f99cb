package graft.text

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Source ratchet: each rule below is written once, in its owner file, and
  * every other site calls that definition. The Spark forms are the word
  * rule (`filter(split(x, " "), … length … > 0)`) and the space-stripping
  * token arithmetic (`replace(x, lit(" "), lit(""))`), owned by
  * [[TextSignals]]. The DuckDB oracle forms are the SQL twins spliced into
  * the oracle strings, each owned by the file of its Spark twin. A copy
  * re-typed anywhere under src/main, or a second copy in the owner, fails
  * here. Sources are read with whitespace collapsed, so a form split over
  * lines still matches. */
class TextRuleRatchetSpec extends AnyFunSuite {

  private val wordRule =
    """filter\(split\(.{1,80}?, " "\), \(?\w+(: [\w.]+)?\)? => length\(\w+\) > (lit\()?0\)?\)""".r
  private val spaceStrip = """lit\(" "\), lit\(""\)\)""".r

  private lazy val sources: Seq[(String, String)] =
    Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).map { p =>
        p.toString -> new String(Files.readAllBytes(p), "UTF-8").replaceAll("\\s+", " ")
      }.toSeq

  /** Every match outside `owner`, plus a line when `owner` does not hold
    * exactly `n` matches (its definitions). */
  private def strays(forms: (Regex, String, Int)*): Seq[String] =
    forms.flatMap { case (form, owner, n) =>
      val found = sources.flatMap { case (p, src) => form.findAllIn(src).map(p -> _) }
      val (own, other) = found.partition(_._1.endsWith("/" + owner))
      other.map { case (p, m) => s"$p: $m" } ++
        (if (own.size == n) Nil else Seq(s"$owner: ${own.size} of $form, not $n"))
    }

  test("the word rule and the token count are written only in TextSignals") {
    val hits = strays((wordRule, "TextSignals.scala", 1),
      (spaceStrip, "TextSignals.scala", 2))
    assert(hits.isEmpty, s"${hits.size} inline copies:\n${hits.mkString("\n")}")
  }

  test("each oracle twin is written only beside its Spark twin") {
    val hits = strays(
      ("""list_filter\([ |]*string_split\([^()]*(\([^()]*\))?[^()]*, ' '\),[ |]*(\w+) -> len\(\2\) > 0\)""".r,
        "TextSignals.scala", 1),
      ("""string_split\([^()]*\)\[i\+2\]""".r, "DedupQueries.scala", 1),
      ("""FROM reach r JOIN edges e""".r, "DedupClusters.scala", 1),
      ("""stats AS \(SELECT CAST\(count\(\*\) AS BIGINT\) AS n_docs""".r,
        "TextQueries.scala", 1),
      ("""'0a'""".r, "DedupQueries.scala", 2),
      ("\"0a\"".r, "DedupQueries.scala", 1))
    assert(hits.isEmpty, s"${hits.size} inline copies:\n${hits.mkString("\n")}")
  }
}
