package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import graft.core.EngineSession

/** Closed-loop benchmark of graft.core.Engine: one client runs one
  * seeded workload against `EngineSession.local`, checks every output
  * against its own model, and prints one JSON result line last.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *        --trace <0|1> --work <dir> [--trace-out <file>]
  *
  * `--work` is a scratch directory the caller owns and removes. With
  * `--trace 0` the result holds the end-to-end metrics; with
  * `--trace 1` the per-layer metrics (and the spans go to
  * `--trace-out`, when given). */
object Main {
  /** Set-ups per run; query_heavy's each run a full pass of its queries. */
  def setups(workload: String): Int = if (workload == "query_heavy") 2 else 5

  val Verbs: Seq[String] = Seq("put", "compactBucket", "refreshRollup", "removeBefore", "get", "find",
    "rollup", "annSearch", "annSearchAdc", "annSearchRerank", "refreshVectorIndex", "compactVectorIndex")
  val ReadVerbs: Seq[String] = Seq("get", "find", "rollup", "annSearch", "annSearchAdc", "annSearchRerank")
  val FsVerbs: Seq[String] = Seq("put", "compactBucket", "refreshRollup", "refreshVectorIndex",
    "compactVectorIndex")
  val Queries: Seq[String] = Seq("llm_suffix_array", "q_graph_reachability", "llm_ppjoin_exact",
    "stream_rollup_twin")

  def main(args: Array[String]): Unit = {
    val start = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt.getOrElse("workload", "")
    if (!Workload.names.contains(workload)) {
      System.err.println(s"perfbench: unknown workload '$workload' (one of ${Workload.names.mkString(", ")})")
      sys.exit(2)
    }
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = Paths.get(opt("work"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = EngineSession.local(cores, Map(
      "spark.local.dir" -> work.resolve("spark-local").toString,
      "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString))
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark, traced)
    val ctx = Ctx(spark, seed, rec)

    val startupS = since(start)

    // several identical set-ups, each into a fresh directory; the last
    // one serves the timed phase
    val setupS = ArrayBuffer[Double]()
    var wl: Workload = null
    (1 to setups(workload)).foreach { i =>
      if (i > 1) deleteTree(work.resolve(s"setup${i - 1}"))
      wl = Workload(workload, ctx)
      val dir = Files.createDirectories(work.resolve(s"setup$i"))
      val t0 = System.nanoTime()
      wl.setup(dir)
      setupS += since(t0)
    }
    rec.storeRoot = wl.storeRoot
    val w0 = System.nanoTime()
    wl.warmup()
    val warmupS = since(w0)

    rec.live = true
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) wl.step()
    val elapsedS = since(t0)
    rec.live = false
    val v0 = System.nanoTime()
    rec.drain()
    wl.verify()
    val verifyS = since(v0)
    opt.get("trace-out").filter(_ => traced).foreach(p => rec.writeTrace(Paths.get(p)))

    val all = rec.opMs.values.flatten.toSeq
    val mixMs = {
      val ws = wl.mix.filter { case (k, _) => rec.opMs.get(k).exists(_.nonEmpty) }
      ws.map { case (k, w) => w * Stats.median(rec.opMs(k).toSeq) }.sum / ws.map(_._2).sum
    }
    val endToEnd = Seq(
      ("setup_s", Stats.median(setupS.toSeq), "s", setupS.size),
      ("mix_ms", mixMs, "ms", all.size),
      ("ops_per_s", all.size / elapsedS, "1/s", all.size))
    val named = wl.named(elapsedS)

    println(s"perfbench: workload=$workload seed=$seed traced=$traced elapsed_s=$elapsedS " +
      s"attempted=${rec.attempted} failed=${rec.failed} ops_failed_frac=${
        if (rec.attempted == 0) 0.0 else rec.failed.toDouble / rec.attempted}")
    val jvmS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0 - since(start)
    println(f"  phases: jvm $jvmS%.1f s, startup $startupS%.1f s, setups ${setupS.sum}%.1f s, warmup $warmupS%.1f s, " +
      f"timed $elapsedS%.1f s, checks $verifyS%.1f s")
    (endToEnd ++ named.map(n => (n.name, n.value, n.unit, n.samples))).foreach { case (n, v, u, c) =>
      println(f"  $n%-34s $v%14.4f $u%-6s n=$c")
    }
    rec.errors.foreach(e => println(s"  MISMATCH: $e"))

    val metrics: Seq[(String, Double, String)] =
      if (traced) perLayer(rec, wl) else endToEnd.map { case (n, v, u, _) => (n, v, u) }
    val body = metrics.map { case (n, v, u) => s""""$n":{"value":${Json.num(v)},"unit":"$u"}""" }
      .mkString(",")
    println(s"""{"correct":${rec.correct},"attempted":${rec.attempted},"failed":${rec.failed},""" +
      s""""metrics":{$body}}""")
    System.out.flush()
    spark.stop()
    sys.exit(if (rec.correct) 0 else 1)
  }

  /** Every per-layer metric; a verb or query the workload never calls
    * reports zeros. Spark and fs figures are per call. */
  private def perLayer(rec: Recorder, wl: Workload): Seq[(String, Double, String)] = {
    def spansOf(layer: String, name: String) = rec.spans.filter(s => s.layer == layer && s.name == name).toSeq
    def perCall(ss: Seq[Span]) = {
      val cs = ss.map(rec.sparkCost)
      def avg(f: SparkCost => Double) = Stats.mean(cs.map(f))
      (avg(_.jobs.toDouble), avg(_.tasks.toDouble), avg(_.taskMs), avg(_.shuffleBytes.toDouble),
        avg(_.driverGapMs), avg(_.inputBytes.toDouble))
    }
    def zeroIfNaN(v: Double) = if (v.isNaN) 0.0 else v
    val engine = Verbs.flatMap { v =>
      val ss = spansOf("engine", v)
      val (jobs, tasks, taskMs, shuffle, gap, input) = perCall(ss)
      Seq(
        (s"engine.$v.calls", ss.size.toDouble, "count"),
        (s"engine.$v.ms_p50", zeroIfNaN(Stats.median(ss.map(_.ms))), "ms"),
        (s"spark.$v.jobs", jobs, "count"),
        (s"spark.$v.tasks", tasks, "count"),
        (s"spark.$v.task_ms", taskMs, "ms"),
        (s"spark.$v.shuffle_bytes", shuffle, "bytes"),
        (s"spark.$v.driver_gap_ms", gap, "ms")) ++
        (if (ReadVerbs.contains(v)) Seq((s"spark.$v.input_bytes", input, "bytes")) else Nil)
    }
    val fs = FsVerbs.flatMap { v =>
      val (calls, files, bytes) = rec.fsWritten.getOrElse(v, (0L, 0L, 0L))
      val n = math.max(1L, calls).toDouble
      Seq((s"fs.$v.files_written", files / n, "count"), (s"fs.$v.bytes_written", bytes / n, "bytes"))
    }
    // the store root holds <db> (the table), <db>_rollup and <db>_vecindex
    val byDir = rec.listStore().toSeq.groupBy { case (p, _) =>
      wl.storeRoot.get.relativize(Paths.get(p)).getName(0).toString
    }
    val table = byDir.collect { case (d, fs) if !d.contains("_") => fs }.flatten
    val deltas = byDir.collect { case (d, fs) if d.endsWith("_vecindex") => fs }.flatten
      .flatMap(_._1.split("/").find(_.startsWith("delta="))).toSet.size
    val fsStore = Seq(
      ("fs.table.files", table.size.toDouble, "count"),
      ("fs.table.bytes", table.map(_._2).sum.toDouble, "bytes"),
      ("fs.vindex.deltas", deltas.toDouble, "count"))
    val query = Queries.flatMap { q =>
      val ss = spansOf("query", q)
      Seq((s"query.$q.ms_p50", zeroIfNaN(Stats.median(ss.map(_.ms))), "ms"),
        (s"spark.query.$q.jobs", perCall(ss)._1, "count"))
    }
    engine ++ fs ++ fsStore ++ query
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally st.close()
  }
}
