package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.Row
import graft.core._

/** Spark job and file counts of the ingest path: a driver-held put
  * writes in one job, a DataFrame put keeps its shuffle by bucket, and
  * a rollup refresh folds in one scan. */
class IngestJobSpec extends JobCounting {

  private val now = 11999L

  private def mkEngine(): Engine = {
    val dir = Files.createTempDirectory("graft-ingest-jobs").toString
    new Engine(spark, EngineOptions(
      databaseName = "jobs", dataDir = dir, indexDepth = 2, payloadSize = 8,
      bucketDuration = 1000L, resolution = 10L, maxHotBuckets = 3), new TestClock(now))
  }

  private def dbl(v: Double): Array[Byte] = java.nio.ByteBuffer.allocate(8).putDouble(v).array()

  /** Parquet files per `bucket_ts=` dir of each batch not in `before`. */
  private def filesPerBucket(e: Engine, before: Set[String]): Map[String, Int] =
    new File(e.opts.tablePath).listFiles().toSeq
      .filter(b => b.getName.startsWith("batch=") && !before(b.getName))
      .flatMap(_.listFiles().toSeq.filter(_.getName.startsWith("bucket_ts=")))
      .map(d => s"${d.getParentFile.getName}/${d.getName}" ->
        d.listFiles().count(_.getName.endsWith(".parquet")))
      .toMap

  private def batches(e: Engine): Set[String] =
    new File(e.opts.tablePath).listFiles().map(_.getName).filter(_.startsWith("batch=")).toSet

  /** 30 points over three buckets, two series each. */
  private val threeBuckets: Seq[(Long, Seq[String], Double)] = for {
    b <- Seq(9000L, 10000L, 11000L); s <- Seq("a", "b"); i <- 0 until 5
  } yield (b + i * 10L, Seq("cpu", s), (b + i).toDouble)

  test("put(Seq[Point]) over three buckets runs one job and writes one file per bucket") {
    val e = mkEngine()
    e.putDoubles(Seq((11900L, Seq("cpu", "warm"), 0.0))) // seeds the seq counter
    val before = batches(e)
    val (ledger, n) = jobs(e.putDoubles(threeBuckets))
    assert(ledger === Map("ok" -> 30L))
    assert(n === 1, s"a driver-held put should run one Spark job, ran $n")
    val files = filesPerBucket(e, before)
    assert(files.size === 3 && files.values.forall(_ == 1), s"files per bucket: $files")
  }

  test("put(DataFrame) from four partitions keeps its shuffle: one file per bucket") {
    val e = mkEngine()
    val rows = threeBuckets.zipWithIndex.map { case ((ts, tags, v), i) =>
      Row(ts, tags, dbl(v), i.toLong) }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "ts BIGINT, tags ARRAY<STRING>, payload BINARY, seq BIGINT")
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    assert(df.rdd.getNumPartitions === 4)
    assert(e.put(df) === Map("ok" -> 30L))
    val files = filesPerBucket(e, Set.empty)
    assert(files.size === 3 && files.values.forall(_ == 1), s"files per bucket: $files")
  }

  test("refreshRollup with new rows runs at most two jobs") {
    val e = mkEngine()
    e.putDoubles(threeBuckets)
    e.refreshRollup(100L)
    e.putDoubles(Seq((11100L, Seq("cpu", "a"), 7.0), (11110L, Seq("cpu", "c"), 8.0)))
    val (folded, n) = jobs(e.refreshRollup(100L))
    assert(folded === 2L)
    assert(n <= 2, s"a rollup refresh should fold in one scan (<= 2 jobs), ran $n")
  }
}
