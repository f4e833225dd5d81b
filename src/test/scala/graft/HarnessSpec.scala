package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The driver mains' shared toolkit: query selection, the JSON escaper,
  * and the guard that keeps [[Harness]] (plus [[ProdSession]]) the only
  * place a SparkSession is built. No Spark session is needed. */
class HarnessSpec extends AnyFunSuite {

  private val all = SparkEntry.queries.keys.toSeq.sorted

  test("select: no filter or a blank one picks every query, sorted") {
    assert(Harness.select(None) == all)
    assert(Harness.select(Some("")) == all)
    assert(Harness.select(Some(" , ,")) == all)
  }

  test("select: blank tokens are dropped, the picked names come back sorted") {
    assert(Harness.select(Some(s" ${all(1)},, ${all.head} ,")) ==
      Seq(all.head, all(1)))
  }

  test("select: an unknown name is rejected with the name in the message") {
    val e = intercept[IllegalArgumentException](
      Harness.select(Some("q1_filter_cat,q2_count_distnct_mag")))
    assert(e.getMessage.contains("q2_count_distnct_mag"))
    assert(!e.getMessage.contains("q1_filter_cat"))
  }

  test("jsonEsc: every ASCII char and some non-ASCII ones round-trip through Jackson") {
    val mapper = new ObjectMapper()
    def parse(s: String): String =
      mapper.readValue("\"" + Harness.jsonEsc(s) + "\"", classOf[String])
    val ascii = (0 to 0x7f).map(_.toChar.toString)
    val other = Seq("\u00e9", "\u0080", "\u00a0", "\u2028", "\u65e5\u672c",
      "\ud83d\ude00")
    (ascii ++ other :+ (ascii ++ other).mkString).foreach { s =>
      assert(parse(s) == s, s"round-trip of ${s.map(_.toInt).mkString(",")}")
    }
  }

  /** `src` with line and (nested) block comments blanked; string and char
    * literals are kept, so a comment opener inside one does not start a
    * comment. */
  private def code(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < n) {
      if (at("\"\"\"")) {
        val close = src.indexOf("\"\"\"", i + 3)
        var end = if (close < 0) n else close + 3
        while (end < n && src(end) == '"') end += 1
        out ++= src.substring(i, end); i = end
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        val end = math.min(j + 1, n)
        out ++= src.substring(i, end); i = end
      } else if (at("'\\")) {
        val close = src.indexOf('\'', i + 3)
        val end = if (close < 0) n else close + 1
        out ++= src.substring(i, end); i = end
      } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') {
        out ++= src.substring(i, i + 3); i += 3
      } else if (at("//")) {
        while (i < n && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        do {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
        } while (depth > 0 && i < n)
        out += ' '
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  private val BuildsSession = """SparkSession\s*\.\s*builder\b|new\s+SparkSession\b""".r

  test("the guard's scan skips comments, not code after string literals") {
    val src = "// SparkSession.builder()\n" +
      "/** `SparkSession.builder()` /* nested SparkSession.builder() */ */\n" +
      "val glob = \"dir/*.parquet\"; val c = '\"'\n" +
      "val s = SparkSession.builder().getOrCreate() // SparkSession.builder()\n"
    assert(BuildsSession.findAllIn(code(src)).size == 1)
  }

  test("only Harness and ProdSession build a SparkSession in src/main/scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no $root under the working directory")
    val walk = java.nio.file.Files.walk(root)
    val builders =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filter(p => BuildsSession.findFirstIn(
          code(java.nio.file.Files.readString(p))).nonEmpty)
        .map(_.getFileName.toString).toSet
      finally walk.close()
    assert(builders == Set("Harness.scala", "ProdSession.scala"))
  }
}
