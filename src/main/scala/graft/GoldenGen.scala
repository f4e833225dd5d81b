package graft

import java.nio.file.{Files, Paths}

/** Regenerates the golden canonical hashes at sf0.001 (SURVEY.md §5.3).
  * Run ONLY after an intentional semantic change, and only once the DuckDB
  * parity harness (tools/parity.py) is green. */
object GoldenGen {
  /** Relative to the working directory, which is the project base both
    * for `sbt runMain` and for the forked test JVM — so a checkout reads
    * and writes its own goldens. */
  val GoldenPath = "src/test/resources/golden/hashes.txt"

  def main(args: Array[String]): Unit = {
    val spark = Harness.session(8)
    val sf = "/root/testdata/sf0.001"
    val names = (Oracles.retail.keys ++ Oracles.pipeline.keys).toSeq.sorted
    val lines = names.map { n =>
      s"$n ${Canonical.hash(SparkEntry.queries(n)(spark, sf))}"
    }
    Files.createDirectories(Paths.get(GoldenPath).getParent)
    Files.writeString(Paths.get(GoldenPath), lines.mkString("\n") + "\n")
    println(s"[golden] wrote ${names.length} hashes to " +
      Paths.get(GoldenPath).toAbsolutePath)
    spark.stop()
  }
}
