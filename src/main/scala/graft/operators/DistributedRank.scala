package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact global ranking WITHOUT a single-partition window.
  *
  * `row_number() OVER (ORDER BY ...)` moves every row to one
  * partition — the canonical 100 TB straggler. The decomposition
  * here is the classic distributed sort-rank: range-partition by the
  * full sort order (boundaries come from sampling, but ANY
  * sort-consistent boundaries yield exact ranks — sampling affects
  * balance, never correctness, because the order columns must form a
  * TOTAL order), rank within each partition (a partitioned window —
  * distributed), collect the per-partition row counts (one tiny
  * row per partition), and add each partition's cumulative offset
  * back. The branch point is localCheckpoint-pinned so the offsets
  * map and the final pass see the SAME physical partitioning — a
  * re-sampled exchange between two actions would mismatch them.
  *
  * ntile derives from the global rank in closed form, reproducing
  * SQL ntile's first-(N mod k)-buckets-get-one-extra rule — the
  * llm_curriculum_order decomposition generalized to arbitrary sort
  * keys (the histogram variant there needs a low-cardinality first
  * key; this one only needs a total order). */
object DistributedRank {

  /** The shared decomposition. Range-partitions `df` by `order`, tags
    * each row with its partition id `__pid`, lets `local` add the
    * partition-local window columns, and pins the result with a LAZY
    * localCheckpoint. ONE narrow job over the checkpoint then
    * materializes it and returns, per non-empty `__pid`, its row count
    * and its total of each `totals` column (nulls skipped, folded with
    * `combine` from 0). No eager checkpoint job and no groupBy
    * exchange: the final pass reads the same pinned partitions the
    * totals came from.
    *
    * Returns the pinned frame, the total row count, and the exclusive
    * cumulative offset columns: first by row count, then one per
    * `totals` column. The offsets change on every run —
    * RangePartitioner seeds its sample from the RDD id — so they are
    * looked up in ONE array literal by `__pid`: Spark keeps an array
    * literal in the generated class's reference table, while it writes
    * a primitive literal into the class's source, so one literal per
    * offset would make every run compile new classes. */
  private def pinned(df: DataFrame, order: Seq[Column], totals: Seq[String],
      combine: (Long, Long) => Long)(local: DataFrame => DataFrame)
      : (DataFrame, Long, Seq[Column]) = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val frame = local(df.repartitionByRange(parts, order: _*)
        .withColumn("__pid", spark_partition_id()))
      .localCheckpoint(eager = false)
    val schema = frame.schema
    val pidAt = schema.fieldIndex("__pid")
    val at = totals.map(c => (schema.fieldIndex(c), schema(c).dataType)).toArray
    // the window's exchange on __pid may hold several pids per task
    val perPid = frame.queryExecution.toRdd.mapPartitions { rows =>
      val acc = scala.collection.mutable.HashMap.empty[Int, Array[Long]]
      rows.foreach { row =>
        val t = acc.getOrElseUpdate(row.getInt(pidAt), new Array[Long](at.length + 1))
        t(0) += 1
        var i = 0
        while (i < at.length) {
          val (ord, dt) = at(i)
          if (!row.isNullAt(ord))
            t(i + 1) = combine(t(i + 1), row.get(ord, dt).asInstanceOf[Number].longValue)
          i += 1
        }
      }
      acc.iterator
    }.collect().sortBy(_._1)
    val nPids = perPid.lastOption.fold(0)(_._1 + 1)
    val offsets = (0 to totals.size).map { i =>
      val off = new Array[Long](nPids)
      perPid.foldLeft(0L) { case (cum, (pid, t)) => off(pid) = cum; cum + t(i) }
      element_at(typedLit(off), col("__pid") + 1)
    }
    (frame, perPid.map(_._2(0)).sum, offsets)
  }

  /** [[withGlobalRank]] plus the total row count, which the offsets
    * already sum up. */
  private def globalRank(df: DataFrame, rankName: String,
      order: Seq[Column]): (DataFrame, Long) = {
    val (local, n, Seq(off)) = pinned(df, order, Nil, _ + _)(
      _.withColumn("__lr", row_number().over(
        Window.partitionBy(col("__pid")).orderBy(order: _*))))
    (local.withColumn(rankName, off + col("__lr")).drop("__pid", "__lr"), n)
  }

  /** df + `rankName` column holding the exact 1-based global rank by
    * `order` (which MUST be a total order — add a unique tiebreak).
    * One range shuffle + one partitioned window; the input is
    * materialized via localCheckpoint at the branch point. */
  def withGlobalRank(df: DataFrame, rankName: String, order: Seq[Column]): DataFrame =
    globalRank(df, rankName, order)._1

  /** df + `rankName` = exact 1-based global DENSE rank by `order` —
    * equal keys share a rank, ranks are consecutive over the distinct
    * key set. Same decomposition as [[withGlobalRank]] but WITHOUT
    * requiring (or building) a distinct input: range-partition by the
    * order (equal keys land in one partition by the RangePartitioner
    * contract), dense_rank within each partition, then add the
    * cumulative count of DISTINCT keys in earlier partitions (= each
    * partition's max local dense rank — one tiny row per partition).
    *
    * r14: this replaces the `distinct → withGlobalRank → join back`
    * shape (3 exchanges + a join per call) the suffix machinery paid
    * PER DOUBLING ROUND with ONE range exchange and no join — the
    * rank attaches in place. Rank values are bit-identical: a dense
    * rank over the same total order. */
  def withGlobalDenseRank(df: DataFrame, rankName: String,
      order: Seq[Column]): DataFrame = {
    val (local, _, Seq(_, off)) = pinned(df, order, Seq("__ldr"), math.max)(
      _.withColumn("__ldr", dense_rank().over(
        Window.partitionBy(col("__pid")).orderBy(order: _*))))
    local.withColumn(rankName, off + col("__ldr")).drop("__pid", "__ldr")
  }

  /** df + `outName` = exact EXCLUSIVE running sum of `valueCol` in
    * `order` (sum over all STRICTLY-preceding rows; the first row
    * gets 0) — the same decomposition as [[withGlobalRank]] but for
    * prefix sums: range-partition by the sort order, partial prefix
    * sums inside each partition (a partitioned window), collect one
    * per-partition total, add the cumulative offset back. `order`
    * must be a total order and `valueCol` an integer column (the
    * per-partition totals fold on the driver as exact Longs).
    * Replaces `sum() OVER (ORDER BY …)` — the other single-partition
    * window shape — with one range shuffle. */
  def withPrefixSum(df: DataFrame, valueCol: Column, outName: String,
      order: Seq[Column]): DataFrame =
    withPrefixSums(df, Seq(valueCol -> outName), order)

  /** Multi-column variant of [[withPrefixSum]]: ONE range shuffle
    * computes an exact exclusive prefix sum for EACH (valueCol →
    * outName) pair. The k-sample statistics need one running sum per
    * sample (KS: two ECDFs; k-sample AD/KW: one per group) — calling
    * [[withPrefixSum]] k times would range-shuffle the same frame k
    * times; this pays the shuffle once and carries k window columns
    * through the same partitioned pass. */
  def withPrefixSums(df: DataFrame, sums: Seq[(Column, String)],
      order: Seq[Column]): DataFrame = {
    require(sums.nonEmpty)
    val w = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val (local, _, offs) = pinned(df, order, sums.indices.map(i => s"__v$i"), _ + _)(
      sums.zipWithIndex.foldLeft(_) { case (acc, ((c, _), i)) =>
        acc.withColumn(s"__v$i", c.cast("long"))
          .withColumn(s"__ps$i", sum(col(s"__v$i")).over(w))
      })
    val out = sums.zip(offs.tail).zipWithIndex.foldLeft(local) {
      case (acc, (((_, name), off), i)) =>
        acc.withColumn(name, off + coalesce(col(s"__ps$i"), lit(0L)))
    }
    out.drop("__pid" +: sums.indices.flatMap(i => Seq(s"__v$i", s"__ps$i")): _*)
  }

  /** df + `tileName` = exact SQL-ntile(k) bucket by `order` (total
    * order required), via [[withGlobalRank]] + the closed-form
    * remainder rule. */
  def withNtile(df: DataFrame, tileName: String, k: Int, order: Seq[Column]): DataFrame = {
    require(k > 0)
    val (ranked, n) = globalRank(df, "__r", order)
    val base = n / k
    val rem = n % k
    val cut = rem * (base + 1)
    val tile =
      if (base == 0) col("__r") // fewer rows than buckets: rank IS the tile
      else when(col("__r") <= cut, expr(s"(__r + $base) div ${base + 1}"))
        .otherwise(lit(rem) + expr(s"(__r - $cut + $base - 1) div $base"))
    ranked.withColumn(tileName, tile.cast("int")).drop("__r")
  }
}
