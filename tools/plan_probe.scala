// Plan probe for the served retail API, run in spark-shell against the
// compiled classes - no test run, no HTTP server:
//
//   sbt -batch compile
//   PROBE_SF=<sf0.1 dir> PROBE_OUT=<file> spark-shell \
//     --master 'local[2]' --conf spark.sql.session.timeZone=UTC \
//     --driver-class-path target/scala-2.13/classes -i tools/plan_probe.scala
//
// For each request of the benchmark's retail pool (the query strings of
// perfbench/expected/retail_sf0.1.tsv, read from the working directory) it
// writes to PROBE_OUT the served frame's schema, its optimized plan and the
// optimized plan of every action the request runs (phase-1 collects, the
// final collect), all in Spark's canonical form (expression ids numbered by
// position, literals kept), and checks the SHA-256 of the `runJson` body
// against the table. Two commits serve the same plans when their
// PROBE_OUT files are equal.
import graft.api.QueryService

val probeDir = sys.env("PROBE_SF")
val probeOut = new java.io.PrintWriter(sys.env("PROBE_OUT"))
val probeLines = scala.io.Source.fromFile("perfbench/expected/retail_sf0.1.tsv").getLines().toList
def sha256(s: String) = java.security.MessageDigest.getInstance("SHA-256")
  .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
def canonical(qe: org.apache.spark.sql.execution.QueryExecution): String =
  qe.optimizedPlan.canonicalized.treeString.replaceAll("\\$\\$Lambda\\S*", "\\$\\$Lambda")

val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]
spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
  def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
    actions.add(canonical(qe))
  def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
})
// listener events arrive asynchronously: wait for the request's actions
def drain(): String = {
  Thread.sleep(1500)
  val b = new StringBuilder
  while (!actions.isEmpty) b ++= "-- action\n" ++= actions.poll()
  b.toString
}

var mismatches = 0
for (line <- probeLines) {
  drain()
  val Array(query, want) = line.split("\t")
  val m = query.split("&").map(_.split("=", 2))
    .map(a => a(0) -> java.net.URLDecoder.decode(a(1), "UTF-8")).toMap
  val p = QueryService.Params(catId = m.get("catID"), fabId = m.get("fabID"),
    annee = m.get("annee").map(_.toInt), debut = m.get("debut"), fin = m.get("fin"),
    asOf = m.get("asOf"))
  val plan = QueryService.run(spark, probeDir, m("type"), p)
    .fold(e => s"ERROR $e", df => df.schema.simpleString + "\n" + canonical(df.queryExecution))
  val got = QueryService.runJson(spark, probeDir, m("type"), p)
    // the typed errors' messages need no JSON escaping
    .fold(e => s"${e.status}:" + sha256(s"""{"error": "${e.message}"}"""), b => s"200:${sha256(b)}")
  if (got != want) mismatches += 1
  probeOut.println(s"== $query  ${if (got == want) "hash-ok" else "HASH-MISMATCH"}")
  probeOut.println(plan)
  probeOut.println(drain())
}
probeOut.close()
println(s"PROBE DONE: ${probeLines.size} requests, $mismatches hash mismatches")
System.exit(0)
