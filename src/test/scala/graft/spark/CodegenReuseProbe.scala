package graft.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** Child-process half of the codegen-reuse test in [[QueriesSpec]].
  * Spark sizes its generated-class cache once per JVM, from the
  * session that first generates code, so the check needs a JVM whose
  * first session is the shipped one: this main starts
  * [[Sessions.local]] before anything else, runs the six dedup pair
  * queries twice over the testdata dir in `args(0)`, and prints how
  * many classes each run compiled on one marker line. */
object CodegenReuseProbe {
  val PairQueries = Seq("dedup_jaccard", "dedup_containment", "dedup_minhash_star",
    "dedup_simhash", "dedup_exact_substring", "text_dup_coverage")
  val Marker = "codegen-compiles"

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(4, "graft-codegen-probe")
    def run(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      PairQueries.foreach(q => Queries.all(q)(spark, args(0)).collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = run()
    val second = run()
    println(s"$Marker first=$first second=$second")
    spark.stop()
  }
}
