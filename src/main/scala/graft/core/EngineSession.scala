package graft.core

import org.apache.spark.sql.SparkSession

/** The blessed SparkSession configuration for the engine — one place
  * for the settings every entry point (Verify, Bench, tests, user
  * code) must agree on, with the scale rationale attached:
  *
  *  - nanosAsLong: parquet ns timestamps stay int64 (kdb's exact ns
  *    math; TimestampType would truncate to µs).
  *  - AQE on: runtime partition coalescing + skew-join splitting —
  *    the production answer to stragglers this engine relies on
  *    instead of hand-tuned partition counts.
  *  - shuffle.partitions sized to cores locally; on a real cluster
  *    leave AQE's coalescing to shrink from a deliberately-high
  *    initial number.
  *  - UTC session timezone: no silent local-zone drift in date math.
  *  - GraftExtensions: native function surface (fnv64,
  *    double_from_payload).
  *  - codegen cache of 1024 classes (Spark's default is 100): one
  *    perfbench `query_heavy` pass compiles about 295 distinct
  *    classes (llm_suffix_array 108, llm_ppjoin_exact 92,
  *    stream_rollup_twin 48, q_graph_reachability 46), so at 100
  *    every warm run evicted and recompiled all of them — 554
  *    compiles, 5.7 s of a 21.8 s timed phase. 1024 is about 3× that
  *    working set; metaspace after three passes stays at 175 MB
  *    (174 MB at 100). It is a STATIC conf, read once per JVM when
  *    Catalyst's `CodeGenerator` first loads: a session the caller
  *    builds without this method (a plain `SparkSession.builder()`)
  *    keeps Spark's 100 entries — still correct, only slower.
  *  - `file:` through [[NoForkLocalFileSystem]] and its `FileContext`
  *    twin [[NoForkLocalFs]]. Without Hadoop's native library, stock
  *    `RawLocalFileSystem` forks `chmod` for every file and directory
  *    it creates (each parquet part, its `.crc`, each `bucket_ts=`
  *    dir, each `Publish` staging dir) and `readlink` for every
  *    `FileContext` rename (each streaming offset and commit log
  *    entry): one perfbench `--seed 7 --seconds 20` run started 1821
  *    processes on `ingest` and 1798 on `query_heavy`, 4 each with
  *    these classes (Hadoop's one-time `setsid` probe, Spark's
  *    `getconf` and shutdown `rm`). Modes, `.crc` sidecars and link
  *    answers are the stock ones (`LocalFsSpec`). Other schemes
  *    (HDFS, S3) are untouched; a session built without this method
  *    keeps Hadoop's forking local FS — still correct, only slower.
  */
object EngineSession {

  /** Apply engine settings to an existing builder (does not set
    * master — the caller owns deployment). */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "1024")
      .config("spark.hadoop.fs.file.impl", classOf[NoForkLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NoForkLocalFs].getName)

  /** Local session for tools and tests. */
  def local(cores: Int, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = configure(SparkSession.builder(), shufflePartitions = cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }
}
