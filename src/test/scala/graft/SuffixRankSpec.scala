package graft

import graft.operators.SuffixRank

/** prefixDoublingRanks reads "the rank at p + k" as lead(r, k), which
  * is only right when positions are contiguous 1..len per doc. The
  * contiguous case must rank suffixes by their first L tokens; a
  * gapped input must fail the job, never rank silently wrong. */
class SuffixRankSpec extends SparkTestBase {
  import spark.implicits._

  private def ranks(rows: Seq[(Long, Int, String)], L: Int): Map[(Long, Int), Long] =
    SuffixRank.prefixDoublingRanks(rows.toDF("doc_id", "p", "tok"), L)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap

  test("contiguous positions: equal ranks exactly where the first L tokens match") {
    val docs = Seq(1L -> "a b a b c", 2L -> "b a b c a")
    val rows = docs.flatMap { case (d, text) =>
      text.split(" ").zipWithIndex.map { case (t, i) => (d, i + 1, t) }
    }
    val L = 4
    val got = ranks(rows, L)
    val prefix = rows.map { case (d, p, _) =>
      (d, p) -> rows.filter(r => r._1 == d && r._2 >= p && r._2 < p + L).sortBy(_._2).map(_._3)
    }.toMap
    for (a <- prefix.keys; b <- prefix.keys)
      assert((got(a) == got(b)) === (prefix(a) == prefix(b)), s"$a vs $b")
  }

  test("gapped positions fail loudly instead of ranking the wrong suffixes") {
    // position 3 of doc 1 is missing, as after a stopword filter
    val rows = Seq((1L, 1, "a"), (1L, 2, "b"), (1L, 4, "a"), (2L, 1, "b"))
    val ex = intercept[Exception](ranks(rows, 2))
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains("contiguous")), ex.toString)
  }
}
