package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for the test suite — same config as
  * Bench/Verify via [[Sessions]] so tests exercise production settings.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.builder("4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** A temp dir deleted at JVM exit ([[streaming.StreamingQueries.tempDir]];
    * the suite runs in a forked JVM, so every spec's dirs go when it ends).
    */
  def tempDir(prefix: String): java.nio.file.Path =
    streaming.StreamingQueries.tempDir(spark, prefix)

  /** All physical nodes of an EXECUTED plan, descending through AQE's
    * adaptive root and query stages (whose `children` are Nil — a plain
    * `plan.collect` stops at them and misses the real operators).
    */
  def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      planNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      planNodes(q.plan)
    case other => other +: other.children.flatMap(planNodes)
  }
}
