package graft

import org.apache.spark.metrics.source.CodegenMetrics
import graft.operators.SuffixRank

/** A warm query compiles no generated code: its plan shapes fit the
  * session's codegen cache, and the operators keep data-dependent
  * values (rank offsets) out of the generated source, so a re-run
  * finds every class already compiled. */
class CodegenReuseSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  /** Janino compiles while `body` runs (a JVM-wide counter; specs run
    * one at a time). */
  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  private def sink(df: org.apache.spark.sql.DataFrame): Unit = {
    df.write.mode("overwrite").format("noop").save()
    spark.sharedState.cacheManager.clearCache()
  }

  test("a second prefixDoublingRanks over the same input compiles nothing") {
    // more rows per input partition than the range sample takes, so
    // each run samples (and cuts partitions) differently
    val tok = spark.range(0, 4000, 1, 4)
      .selectExpr("id div 100 AS doc_id", "CAST(id % 100 + 1 AS INT) AS p",
        "CAST(id * 7919 % 23 AS STRING) AS tok")
    compiles(sink(SuffixRank.prefixDoublingRanks(tok, 8)))
    val n = compiles(sink(SuffixRank.prefixDoublingRanks(tok, 8)))
    assert(n === 0, s"the second run compiled $n classes")
  }

  test("a second pass of the iterative queries compiles nothing") {
    val names = Seq("llm_suffix_array", "q_graph_reachability", "llm_ppjoin_exact")
    def pass(): Map[String, Long] =
      names.map(q => q -> compiles(sink(SparkEntry.queries(q)(spark, sf)))).toMap
    pass()
    val second = pass()
    assert(second.values.forall(_ == 0), s"second-pass compiles: $second")
  }
}
