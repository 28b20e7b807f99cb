package graft.text

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source ratchet: the word rule (`filter(split(x, " "), … length … > 0)`)
  * and the space-stripping token arithmetic (`replace(x, lit(" "),
  * lit(""))`) are written once, in [[TextSignals]]. A copy re-typed
  * anywhere else under src/main fails here. DuckDB oracle SQL keeps its
  * own forms (`string_split`, `' '` literals): it is the reference the
  * Spark side is checked against, and these Scala forms do not match it. */
class TextRuleRatchetSpec extends AnyFunSuite {

  private val wordRule =
    """filter\(split\(.{1,80}?, " "\), \(?\w+(: [\w.]+)?\)? => length\(\w+\) > (lit\()?0\)?\)""".r
  private val spaceStrip = """lit\(" "\), lit\(""\)\)""".r

  test("the word rule and the token count are written only in TextSignals") {
    val hits = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "TextSignals.scala")
      .flatMap { p =>
        val src = new String(Files.readAllBytes(p), "UTF-8").replaceAll("\\s+", " ")
        (wordRule.findAllIn(src) ++ spaceStrip.findAllIn(src)).map(m => s"$p: $m")
      }.toSeq
    assert(hits.isEmpty, s"${hits.size} inline copies:\n${hits.mkString("\n")}")
  }
}
