package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.sources.Tables

/** Driver-run benchmark: every SparkEntry query timed at
  * SPARK_GRAFT_SF_DIR.
  *
  * Methodology (adjudicable, not single-pass): a global warmup
  * (footer reads, writer/commit infra, codegen one-offs) followed by
  * one untimed warmup execution of each query, then PASSES timed
  * executions per query; the reported number is the per-query MEDIAN.
  * Single-pass cold timings proved non-adjudicable in r4/r5: host
  * contention/GC swung trivial scans 10× (q_sample_hash 1.0→13.6 s on
  * a 600 k-row scan+filter+6-row agg) in consecutive rounds with no
  * code change. A median over warmed passes is robust to one GC/
  * compaction spike and approximates steady-state executor throughput
  * — what a long-lived cluster sees.
  *
  * Output contract: ONE compact JSON line on stdout (driver parses the
  * tail, so values are rounded to ms to keep the line short) AND the
  * complete result — per-query samples, medians, environment — written
  * to SPARK_GRAFT_BENCH_OUT (default `BENCH_FULL_c<cpus>.json` in the
  * working directory, one file per core count, so an 8-core run does
  * not overwrite the 32-core map): stdout tails get truncated
  * (BENCH_r05 lost 56/117 queries and parsed as null), the file never
  * does. The summary line's `queries_file` is the absolute path
  * written.
  */
object Bench {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) -1.0
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  private def r3(d: Double): Double = math.rint(d * 1000) / 1000

  /** Per-query record for BENCH_FULL: median + raw samples, plus an
    * explicit `"outlier":true` marker when max/min sample ratio > 3×
    * — a median-of-3 with such spread is host noise (GC/compaction
    * stall), and next-round regression triage should read the flag
    * instead of rediscovering it from the raw samples. */
  /** max/min sample spread > 3× = host noise (GC/compaction stall),
    * not a plan property. */
  private def isOutlier(v: Seq[Double]): Boolean = {
    val pos = v.filter(_ >= 0)
    pos.size >= 2 && pos.min > 0 && pos.max / pos.min > 3.0
  }

  /** Janino compiles so far in this JVM (every generated class Spark
    * did not find in its codegen cache). */
  private def compileCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def qJson(v: Seq[Double], compiles: Long): String = {
    val pos = v.filter(_ >= 0)
    // min rides along beside the median: min-of-samples is the
    // contention-robust lower bound next-round regression triage
    // compares against (r12: unchanged code showed 0.69 → 14.49 s
    // medians under host contention while min ratios sat at 1.05)
    "{\"median\":" + r3(median(pos)) +
      (if (pos.nonEmpty) ",\"min\":" + r3(pos.min) else "") +
      ",\"samples\":" + v.map(r3).mkString("[", ",", "]") +
      // codegen compiles over the timed passes: 0 once a query's plan
      // shapes sit in the codegen cache and its code is data-independent
      ",\"compiles\":" + compiles +
      (if (isOutlier(v)) ",\"outlier\":true" else "") + "}"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    val outPath = Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"BENCH_FULL_c$cpus.json"))
      .toAbsolutePath.toString
    val spark = graft.core.EngineSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // global warmup: parquet footers + codegen/JIT infrastructure
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "events", "documents", "embeddings")
      .foreach(t => Tables.load(spark, sfDir, t).count())
    spark.range(1000000L).selectExpr("sum(id)").collect()
    // the first noop save in a JVM pays writer/commit infra (~2.5s),
    // and the first aggregate / window / sketch pays codegen and
    // class-loading one-offs — warm them all so the first timed query
    // doesn't absorb them (nothing here caches table data)
    spark.range(1000L)
      .selectExpr("id % 5 AS k", "id AS v")
      .selectExpr("k", "v",
        "approx_count_distinct(v) OVER (PARTITION BY k) AS acd",
        "sum(v) OVER (PARTITION BY k ORDER BY v) AS rs")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v"))
      .write.mode("overwrite").format("noop").save()

    // noop sink, NOT count(): count lets Catalyst drop the sorts,
    // left joins, and projections the count doesn't need — the
    // timing would flatter exactly the operators a user pays for.
    // The noop writer executes the full physical plan and discards
    // rows executor-side (no driver collect).
    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      // drop per-query persist() blocks between queries: CacheManager
      // entries are keyed by analyzed plan and never expire, so over a
      // 350-query × 3-pass run cached candidate sets accumulate AND a
      // later pass of the same query would silently reuse pass-1's
      // cache (flattering its timing). Clearing inside the timed
      // region would tax the query being measured; the clear runs
      // after the clock stops, like the noop sink's teardown.
      spark.sharedState.cacheManager.clearCache()
      dt
    }

    // dev knob: SPARK_GRAFT_ONLY=q1,q2 times a subset with the exact
    // harness methodology (warmup + clearCache + noop sink) — unset in
    // driver runs, so the official artifact always covers every query
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Time budget (SPARK_GRAFT_BENCH_BUDGET_SEC, default 1200 s):
    // never triggers at the expected sf0.1 scale (~10 min for warmup
    // + 3 passes), but bounds a pathological run — at a 10× SF each
    // pass is ~10 min and an unguarded 4-pass bench would run 40+
    // minutes. Pass-major order so an early stop still leaves every
    // query with the SAME number of samples; at least one timed pass
    // always runs.
    // 3000s default: a ~3×-degraded driver host (r6 measured 527 s for
    // one pass of 163 queries) still fits warmup + 3 passes of the
    // current 211-query suite; the old 1200 s forced single-pass runs
    // whose samples were non-adjudicable.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "3000").toDouble
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    // warmup pass (untimed): plan-specific codegen + JIT
    sorted.foreach { case (name, fn) =>
      try runOnce(fn)
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name warmup FAILED: ${e.getMessage}")
      }
    }
    // a failed query reports -1.0, never a fake timing
    val samplesByQuery = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    val compilesByQuery = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    /** One timed run of `name`: its seconds (-1.0 when it failed), and
      * its codegen compiles added to the query's count. */
    def timed(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        what: String): Double = {
      val c0 = compileCount
      try runOnce(fn)
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name ${what}FAILED: ${e.getMessage}")
        -1.0
      } finally compilesByQuery(name) += compileCount - c0
    }
    var lastPassSec = elapsed // the warmup pass approximates one pass
    var done = 0
    // checkpoint the full record after every pass: an external kill
    // (driver wall-clock, OOM reaper) must cost at most the pass in
    // flight, never the whole run — r6 lost nothing only by luck
    def writeFull(doneSoFar: Int, stopped: Boolean): Unit = {
      val rs: Seq[(String, Seq[Double])] =
        sorted.map { case (name, _) => name -> samplesByQuery(name) }
      val meds = rs.map { case (k, v) =>
        k -> (if (v.nonEmpty && v.forall(_ >= 0)) median(v) else -1.0) }
      val tot = r3(meds.collect { case (_, v) if v >= 0 => v }.sum)
      val sj = rs.map { case (k, v) => s"\"" + k + "\":" + qJson(v, compilesByQuery(k)) }
        .mkString("{", ",", "}")
      val meta = s""""passes_configured":$passes,"passes_done":$doneSoFar,"budget_stopped":$stopped"""
      val json =
        s"""{"metric":"total_median","value":$tot,"unit":"sec",$meta,"cpus":$cpus,"sf":"$sfDir","queries":$sj}"""
      try Files.writeString(Paths.get(outPath), json)
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
      }
    }
    while (done < passes && (done == 0 || elapsed + lastPassSec <= budgetSec)) {
      val passStart = elapsed
      // per-pass DETERMINISTIC shuffle (seeded by pass index): with a
      // fixed alphabetical order, one host-contention window hits the
      // SAME contiguous query block in every pass, so even the median
      // of 3 is poisoned (r10 driver artifact: the llm_te*-llm_u*
      // block at 2.8-7.1x its close-run times while the suite median
      // ratio was 1.06). Shuffling each pass decorrelates wall-clock
      // neighborhoods from query identity — a stall now taxes 3
      // unrelated query sets and the median rejects it. Seeded, so
      // reruns are reproducible.
      val order = new scala.util.Random(0x9E3779B9L + done)
        .shuffle(sorted)
      order.foreach { case (name, fn) =>
        samplesByQuery(name) = samplesByQuery(name) :+ timed(name, fn, "")
      }
      lastPassSec = elapsed - passStart
      done += 1
      writeFull(done, stopped = false)
    }
    // Outlier rescue: a query whose samples spread >3× got hit by a
    // host-contention window — its median-of-3 is noise, not signal
    // (r12: 72/356 flagged; kdb_renko_bars median 14.49 s from
    // samples 14.7/14.5/1.0 on unchanged code). Two extra timed runs
    // per flagged query turn it into a median-of-5, which rejects up
    // to two poisoned samples. Budget-bounded like the main passes:
    // skip the rescue when it can't fit, and say so in the JSON.
    var rescued = 0
    if (done == passes) {
      val flagged = new scala.util.Random(0xC0FFEEL)
        .shuffle(sorted.filter { case (name, _) => isOutlier(samplesByQuery(name)) })
      val perQuerySec = flagged.map { case (name, _) =>
        val pos = samplesByQuery(name).filter(_ >= 0)
        if (pos.nonEmpty) pos.min * 2 else 0.0
      }
      flagged.zip(perQuerySec).foreach { case ((name, fn), est) =>
        if (elapsed + est <= budgetSec) {
          (1 to 2).foreach { _ =>
            val sm = timed(name, fn, "rescue ")
            // a failed RESCUE sample is dropped, never appended: the
            // medians gate on v.forall(_ >= 0), so one dead extra pass
            // (likely under the very contention that triggered the
            // rescue) would flip a query that completed all its main
            // passes to a reported -1.0 — the rescue must only ever
            // improve a query's number, never destroy it
            if (sm >= 0) samplesByQuery(name) = samplesByQuery(name) :+ sm
          }
          rescued += 1
        }
      }
      if (flagged.nonEmpty) {
        System.err.println(s"[bench] outlier rescue: $rescued/${flagged.size} " +
          "flagged queries re-timed to median-of-5")
        writeFull(done, stopped = false)
      }
    }
    // A budget stop must be self-describing IN THE JSON, not just on
    // stderr: r6's driver run stopped after 1/3 passes but reported
    // "passes":3, so consumers believed medians-of-3 that were single
    // samples. Emit configured vs done separately, plus an explicit
    // budget_stopped flag.
    val budgetStopped = done < passes
    if (budgetStopped)
      System.err.println(s"[bench] budget ${budgetSec}s: stopped after $done/$passes passes")
    val passMeta =
      s""""passes_configured":$passes,"passes_done":$done,"budget_stopped":$budgetStopped"""
    val results: Seq[(String, Seq[Double])] =
      sorted.map { case (name, _) => name -> samplesByQuery(name) }
    val medians = results.map { case (k, v) =>
      k -> (if (v.forall(_ >= 0)) median(v) else -1.0)
    }
    val qs = medians.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = r3(medians.collect { case (_, v) if v >= 0 => v }.sum)
    // contention-robust companion total: the sum of per-query BEST
    // samples — a regression shows up in both numbers, host noise
    // only in the median one
    val minTotal = r3(results.map { case (_, v) =>
      val pos = v.filter(_ >= 0); if (pos.nonEmpty) pos.min else 0.0 }.sum)
    val line =
      s"""{"metric":"total_median","value":$total,"value_min":$minTotal,"unit":"sec",$passMeta,"queries":$qs,"sf":"$sfDir"}"""
    // full record (every sample, not just the median) → file: stdout
    // tails truncate, this is the adjudicable artifact
    val samplesJson = results.map { case (k, v) => s"\"" + k + "\":" + qJson(v, compilesByQuery(k)) }
      .mkString("{", ",", "}")
    val fileJson =
      s"""{"metric":"total_median","value":$total,"value_min":$minTotal,"unit":"sec",$passMeta,"cpus":$cpus,"sf":"$sfDir","queries":$samplesJson}"""
    try Files.writeString(Paths.get(outPath), fileJson)
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    println(line)
    // the driver captures a bounded stdout TAIL: the full per-query
    // line above can lose its head to truncation (r5: parsed=null),
    // so always end with a short line that survives any tail window
    // and points at the complete artifact
    println(s"""{"metric":"total_median","value":$total,"value_min":$minTotal,"unit":"sec",$passMeta,"rescued":$rescued,"n_queries":${medians.size},"queries_file":"$outPath","sf":"$sfDir"}""")
    spark.stop()
  }
}
