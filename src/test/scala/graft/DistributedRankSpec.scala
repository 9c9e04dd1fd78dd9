package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{DistributedRank, SuffixRank}

/** DistributedRank must reproduce row_number()/ntile() over a global
  * ORDER BY exactly — same ranks, same buckets, including the
  * N mod k remainder rule and duplicate sort keys — while planning
  * no partition-less window, in a pinned number of Spark jobs. */
class DistributedRankSpec extends JobCounting {

  // 103 rows (103 mod 5 = 3 exercises the remainder rule), duplicate
  // keys (id % 7) force the tiebreak to carry the total order
  private def fixture = spark.range(103).selectExpr("id", "id % 7 AS k")

  test("withGlobalRank equals row_number over the same total order") {
    val order = Seq(col("k"), col("id"))
    val got = DistributedRank.withGlobalRank(fixture, "r", order)
      .select("id", "r").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = fixture.withColumn("r", row_number().over(
        Window.orderBy(col("k"), col("id"))).cast("long"))
      .select("id", "r").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === want)
  }

  test("withGlobalDenseRank equals dense_rank over the same total order, duplicates included") {
    // rank over the NON-distinct frame: duplicate (k) keys must share
    // a rank and ranks must stay consecutive across partition cuts
    val order = Seq(col("k"))
    val got = DistributedRank.withGlobalDenseRank(fixture, "r", order)
      .select("id", "r").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = fixture.withColumn("r", dense_rank().over(
        Window.orderBy(col("k"))).cast("long"))
      .select("id", "r").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === want)
    // sizes across partition boundaries, including empty and 1-row
    for (n <- Seq(0, 1, 2, 31, 32, 33, 100)) {
      val df = spark.range(n.toLong).selectExpr("id", "id % 3 AS k")
      val g = DistributedRank.withGlobalDenseRank(df, "r", Seq(col("k"), col("id")))
        .select("id", "r").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val w = df.withColumn("r", dense_rank().over(
          Window.orderBy(col("k"), col("id"))).cast("long"))
        .select("id", "r").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(g === w, s"n=$n")
    }
  }

  test("withNtile equals literal ntile(5), remainder buckets included") {
    val order = Seq(col("k").desc, col("id"))
    val got = DistributedRank.withNtile(fixture, "t", 5, order)
      .select("id", "t").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val want = fixture.withColumn("t", ntile(5).over(
        Window.orderBy(col("k").desc, col("id"))))
      .select("id", "t").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(got === want)
  }

  test("withPrefixSum equals the exclusive running sum over the same total order") {
    val order = Seq(col("k"), col("id"))
    val got = DistributedRank.withPrefixSum(fixture, col("id") + 1, "ps", order)
      .select("id", "ps").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = fixture.withColumn("ps", coalesce(sum(col("id") + 1).over(
        Window.orderBy(col("k"), col("id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("id", "ps").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === want)
  }

  test("withPrefixSum across arbitrary sizes (empty, 1, partition-boundary sizes)") {
    for (n <- Seq(0, 1, 2, 31, 32, 33, 100)) {
      val df = spark.range(n.toLong).selectExpr("id", "id % 3 AS k")
      val got = DistributedRank.withPrefixSum(df, lit(2L), "ps", Seq(col("k"), col("id")))
        .select("id", "ps").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val want = df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy { case (id, k) => (k, id) }.zipWithIndex
        .map { case ((id, _), i) => (id, 2L * i) }.toMap
      assert(got === want, s"n=$n")
    }
  }

  test("no partition-less window in the plan; ranks spread across partitions") {
    val order = Seq(col("k"), col("id"))
    val ranked = DistributedRank.withGlobalRank(fixture, "r", order)
    val plan = ranked.queryExecution.executedPlan.toString
    // the only Window is partitioned by __pid (checkpointed upstream,
    // so the final plan may show just the scan — assert no global one)
    assert(!plan.contains("Exchange SinglePartition"),
      s"global-rank plan must not single-partition:\n$plan")
    // more than one physical partition actually carries rows — AQE
    // coalesces the tiny test exchange to 1 otherwise (the documented
    // observe-the-configured-shape gotcha)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val nParts = DistributedRank.withGlobalRank(fixture, "r", order)
        .groupBy(spark_partition_id()).count().count()
      assert(nParts > 1, "ranks must be computed across partitions")
    } finally
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
  }

  test("fewer rows than buckets: tile = rank") {
    val tiny = spark.range(3).selectExpr("id", "id AS k")
    val got = DistributedRank.withNtile(tiny, "t", 5, Seq(col("k"), col("id")))
      .select("id", "t").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    assert(got === Seq((0L, 1), (1L, 2), (2L, 3)))
  }

  // Job budgets of one call on a fixed input: the range sample, the
  // map stages of the range exchange and of the window's exchange on
  // __pid, and one narrow job over the pinned partitions that both
  // returns the per-partition totals and materializes the checkpoint.
  private def wide = spark.range(0, 2000, 1, 4).selectExpr("id", "id % 7 AS k")

  test("one withGlobalDenseRank call runs four jobs") {
    val (_, n) = jobs(DistributedRank.withGlobalDenseRank(wide, "r", Seq(col("k"))))
    assert(n === 4, s"withGlobalDenseRank ran $n jobs")
  }

  test("one withPrefixSum call runs four jobs") {
    val (_, n) = jobs(DistributedRank.withPrefixSum(wide, col("id"), "ps",
      Seq(col("k"), col("id"))))
    assert(n === 4, s"withPrefixSum ran $n jobs")
  }

  // four dense-rank calls plus the map stage of each of the three
  // doubling rounds' lead() exchange on doc_id
  test("one prefixDoublingRanks(L = 8) call runs 19 jobs") {
    val tok = spark.range(0, 2000, 1, 4)
      .selectExpr("id div 100 AS doc_id", "CAST(id % 100 + 1 AS INT) AS p",
        "CAST(id * 7919 % 23 AS STRING) AS tok")
    val (_, n) = jobs(SuffixRank.prefixDoublingRanks(tok, 8))
    assert(n === 19, s"prefixDoublingRanks ran $n jobs")
  }
}
