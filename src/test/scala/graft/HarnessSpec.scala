package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The driver mains' shared toolkit: query selection, the JSON escaper,
  * and the guard that keeps [[Harness]] (plus [[ProdSession]]) the only
  * place a SparkSession is built; plus the source guards that keep the
  * state libraries free of oracle drills, the served API free of its
  * own retail plans, the curation chains on one set of stage builders,
  * the state family on one at-rest writer and the operators free of
  * `(spark, dir)` forwarders.
  * No Spark session is needed. */
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

  test("deleteTree: removes a nested run dir; a missing one is reported, not thrown") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_run_")
    Files.createDirectories(dir.resolve("state/part"))
    Files.writeString(dir.resolve("state/part/f.parquet"), "x")
    Harness.deleteTree(dir)
    assert(!Files.exists(dir))
    Harness.deleteTree(dir) // NoSuchFileException: a stderr line, no throw
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

  test("the state libraries define no drill: every eq<N> of the family is in StateDrills") {
    val dir = java.nio.file.Paths.get("src/main/scala/graft/sources")
    Seq("StateLog.scala", "SnapshotStateSink.scala").foreach { f =>
      val drills = """\bdef\s+eq\d+\b""".r
        .findAllIn(code(java.nio.file.Files.readString(dir.resolve(f)))).toSeq
      assert(drills.isEmpty, s"$f defines ${drills.mkString(", ")}")
    }
  }

  test("the served API plans no aggregate: every retail plan is a RetailQueries builder") {
    val src = code(java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/api/QueryService.scala")))
    val plans = """\bgroupBy\b|\bcountDistinct\b|\.agg\(""".r.findAllIn(src).toSeq
    assert(plans.isEmpty, s"QueryService.scala plans ${plans.mkString(", ")}")
  }

  test("one curation kernel: each stage window is written once, the second chain's helpers are gone") {
    val root = java.nio.file.Paths.get("src/main/scala/graft/pipeline")
    assert(java.nio.file.Files.isDirectory(root), s"no $root under the working directory")
    val walk = java.nio.file.Files.walk(root)
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p.getFileName.toString -> java.nio.file.Files.readString(p)).toList
      finally walk.close()
    for (window <- Seq("""Window.partitionBy(sha2(""", """Window.partitionBy("cluster")""")) {
      val at = sources.flatMap { case (f, src) =>
        Seq.fill(code(src).split(java.util.regex.Pattern.quote(window), -1).length - 1)(f) }
      assert(at.size <= 1, s"$window written ${at.size} times: ${at.mkString(", ")}")
    }
    for (gone <- Seq("appendPackCount", "FrozenState")) {
      val at = sources.collect { case (f, src) if src.contains(gone) => f }
      assert(at.isEmpty, s"$gone is back in ${at.mkString(", ")}")
    }
  }

  /** The code of every `.scala` file under `src/main/scala/graft/<dir>`,
    * by file name, comments blanked. */
  private def sourcesUnder(dirs: String*): Map[String, String] =
    dirs.flatMap { d =>
      val root = java.nio.file.Paths.get(s"src/main/scala/graft/$d")
      assert(java.nio.file.Files.isDirectory(root), s"no $root under the working directory")
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p.getFileName.toString -> code(java.nio.file.Files.readString(p))).toList
      finally walk.close()
    }.toMap

  test("one at-rest writer: the state family's ids, table writes and layouts live in AtRest") {
    val srcs = sourcesUnder("sources", "ingest")
    def at(re: scala.util.matching.Regex, exempt: Set[String]) =
      srcs.collect { case (f, src) if !exempt(f) && re.findFirstIn(src).nonEmpty => f }.toSeq.sorted
    // the pdv's bucketed retail layout is not a state table
    val writes = at("""\bsaveAsTable\s*\(|\bbucketBy\s*\(""".r,
      Set("AtRest.scala", "BucketedLayout.scala"))
    assert(writes.isEmpty, s"table writes outside AtRest: ${writes.mkString(", ")}")
    val ids = at("""\bProcessHandle\b|\bincrementAndGet\b|\bAtomicLong\b""".r, Set("AtRest.scala"))
    assert(ids.isEmpty, s"ids minted outside AtRest: ${ids.mkString(", ")}")
    val index = """case\s+class\s+IndexTables\s*\(([^)]*)\)""".r
      .findFirstMatchIn(srcs("DedupIndexSink.scala")).map(_.group(1))
    assert(index.nonEmpty, "IndexTables not found in DedupIndexSink.scala")
    assert("""\bmeta\b""".r.findFirstIn(index.get).isEmpty, s"IndexTables has a meta field: ${index.get}")
    // the orphan recount's surviving-hash step: the deleted hashes
    // semi-joined into the retained corpus, distinct
    val recount = srcs.toSeq.flatMap { case (f, src) =>
      Seq.fill("""Seq\("h"\)\s*,\s*"left_semi"\s*\)\s*\.distinct\(\)""".r.findAllIn(src).size)(f)
    }
    assert(recount == Seq("DedupIndexSink.scala"),
      s"the orphan recount is written ${recount.size} times: ${recount.mkString(", ")}")
  }

  /** A `(spark, dir)` function whose whole body is one call over
    * `Tables.load(spark, dir, …)` arguments and constants: a second public
    * name for an operator that only hides a table name. */
  private val Forwarder = {
    val arg = """(?:(?:graft\.)?Tables\.load\(\s*spark\s*,\s*dir\s*,\s*"\w+"\s*\)|[A-Z]\w*)"""
    ("""\bdef\s+(\w+)\s*\(\s*spark\s*:\s*SparkSession\s*,\s*dir\s*:\s*String\s*\)\s*:\s*""" +
      s"""DataFrame\\s*=\\s*[\\w.]+\\(\\s*$arg(?:\\s*,\\s*$arg)*\\s*\\)(?!\\s*\\.)""").r
  }

  test("no (spark, dir) forwarder: SparkEntry binds each catalogue query to its tables") {
    // graft.Bench and the benchmark harness's catalog_batch call these two
    // by name to materialize the Jaccard pair table and prime the BPE merge
    // table before timing; the harness is not changed with the engine
    val allowed = Set("Dedup.scala" -> "jaccardPairs", "TextAnalysis.scala" -> "bpeTrain")
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no $root under the working directory")
    val walk = java.nio.file.Files.walk(root)
    val found =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
        Forwarder.findAllMatchIn(code(java.nio.file.Files.readString(p)))
          .map(m => p.getFileName.toString -> m.group(1))
      }.toSet
      finally walk.close()
    val forwarders = (found -- allowed).toSeq.sorted
    assert(forwarders.isEmpty,
      s"${forwarders.size} forwarders: ${forwarders.map(f => s"${f._1}:${f._2}").mkString(", ")}")
    assert(allowed.subsetOf(found), s"allowed forwarders gone: ${allowed -- found}")
  }
}
