package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One traced interval. `op` is the id of the workload op the span
  * belongs to; times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** Spark-side totals of one verb or query span. */
final case class SparkCost(jobs: Long, tasks: Long, taskMs: Double, shuffleBytes: Long,
    inputBytes: Long, driverGapMs: Double)

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Everything one benchmark run observes, from outside the engine.
  *
  * Untraced, it only times workload ops. Traced, each verb call also
  * becomes a span: a `perfbench.span` local property (inherited by
  * threads the call starts, e.g. a streaming query) tags its Spark
  * jobs, the verb name is set as the job group, a listener gathers
  * jobs, stages and tasks per span, and mutating verbs list the store
  * directory before and after to count the parquet files and bytes
  * they published. Spans stay in memory until [[writeTrace]]. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val SpanKey = "perfbench.span"
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis().toDouble
  private def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  val opMs = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer[String]()
  private var mismatches = 0L
  val spans = ArrayBuffer[Span]()
  /** verb -> (calls, files published, bytes published) */
  val fsWritten = mutable.LinkedHashMap[String, (Long, Long, Long)]()
  /** Root the fs layer lists: the engine's data dir (table, rollup and
    * vector-index directories all live under it). */
  var storeRoot: Option[Path] = None

  /** False outside the timed phase: ops and verbs then run untimed and
    * untraced (a warmup op that throws fails the run). */
  var live = false

  private var nextId = 1L
  private var curOp = 0L

  def correct: Boolean = mismatches == 0

  /** Record a correctness check; a false `ok` fails the run. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      mismatches += 1
      if (errors.size < 20) errors += what
    }

  /** One closed-loop op of the workload. An op that throws counts as
    * failed and produces no timing. */
  def op[T](kind: String)(body: => T): Option[T] = if (!live) Some(body) else {
    attempted += 1
    val id = nextId
    nextId += 1
    curOp = id
    val t0 = System.nanoTime()
    val w0 = nowMs
    try {
      val r = body
      opMs.getOrElseUpdate(kind, ArrayBuffer()) += (System.nanoTime() - t0) / 1e6
      if (traced) spans += Span(id, 0L, id, "op", kind, w0, nowMs)
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"perfbench: op $kind failed: $e")
        None
    } finally curOp = 0L
  }

  /** One call into a layer (`engine` verb or `query`), including the
    * materialization of its result; traced runs record it as a span. */
  def verb[T](name: String, layer: String = "engine", writes: Boolean = false)(body: => T): T =
    if (!live || !traced) body else {
      val id = nextId
      nextId += 1
      val sc = spark.sparkContext
      val before = if (writes) listStore() else Map.empty[String, Long]
      sc.setLocalProperty(SpanKey, id.toString)
      sc.setJobGroup(name, s"$layer:$name#$id")
      val w0 = nowMs
      try body
      finally {
        spans += Span(id, curOp, curOp, layer, name, w0, nowMs)
        sc.setLocalProperty(SpanKey, null)
        sc.clearJobGroup()
        if (writes) {
          val fresh = listStore().filterNot { case (p, _) => before.contains(p) }
          val (c, f, b) = fsWritten.getOrElse(name, (0L, 0L, 0L))
          fsWritten(name) = (c + 1, f + fresh.size, b + fresh.values.sum)
        }
      }
    }

  /** Parquet files (path -> bytes) under the store root. */
  def listStore(): Map[String, Long] = storeRoot.map(Recorder.parquetFiles).getOrElse(Map.empty)

  // ------------------------------------------------------------------
  // Spark listener: jobs, stages and tasks per span
  // ------------------------------------------------------------------

  private final class JobRec(val span: Long, val start: Double) {
    @volatile var end: Double = Double.NaN
  }
  private final class StageRec(val job: Int, val name: String) {
    var tasks = 0L
    var taskMs = 0.0
    var shuffleBytes = 0L
    var inputBytes = 0L
    var start = Double.NaN
    var end = Double.NaN
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).foreach { s =>
        jobs.put(e.jobId, new JobRec(s.toLong, e.time.toDouble))
        e.stageInfos.foreach(si => stages.putIfAbsent(si.stageId, new StageRec(e.jobId, si.name)))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stages.get(e.stageInfo.stageId)).foreach { st =>
        e.stageInfo.submissionTime.foreach(t => st.start = t.toDouble)
        e.stageInfo.completionTime.foreach(t => st.end = t.toDouble)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stages.get(e.stageId)).foreach { st =>
        st.tasks += 1
        st.taskMs += e.taskInfo.duration.toDouble
        Option(e.taskMetrics).foreach { m =>
          st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          st.inputBytes += m.inputMetrics.bytesRead
        }
      }
  }

  if (traced) spark.sparkContext.addSparkListener(listener)

  /** Wait for every posted listener event; call once, after the timed
    * phase and before reading [[sparkCost]] or writing the trace. */
  def drain(): Unit = if (traced) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  private lazy val jobsBySpan: Map[Long, Seq[(Int, JobRec)]] =
    jobs.asScala.toSeq.groupBy(_._2.span)
  private lazy val stagesByJob: Map[Int, Seq[(Int, StageRec)]] =
    stages.asScala.toSeq.groupBy(_._2.job)

  /** Spark cost of one span. Driver gap is the span's wall time minus
    * the part of it its jobs cover. */
  def sparkCost(s: Span): SparkCost = {
    val js = jobsBySpan.getOrElse(s.id, Nil)
    val sts = js.flatMap { case (j, _) => stagesByJob.getOrElse(j, Nil).map(_._2) }
    val iv = js.map(_._2).filterNot(_.end.isNaN)
      .map(j => (math.max(j.start, s.start), math.min(j.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var reach = Double.NegativeInfinity
    iv.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) covered += b - from
      reach = math.max(reach, b)
    }
    SparkCost(js.size.toLong, sts.map(_.tasks).sum, sts.map(_.taskMs).sum,
      sts.map(_.shuffleBytes).sum, sts.map(_.inputBytes).sum, s.ms - covered)
  }

  /** Spans of every layer: op -> engine/query -> Spark job -> stage. */
  def allSpans: Seq[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    val jobSpans = jobs.asScala.toSeq.flatMap { case (j, r) =>
      byId.get(r.span).filterNot(_ => r.end.isNaN).map(p =>
        Span(Recorder.JobIds + j, p.id, p.op, "spark.job", s"job $j", r.start, r.end))
    }
    val stageSpans = stages.asScala.toSeq.collect {
      case (sid, st) if !st.start.isNaN && !st.end.isNaN && jobs.containsKey(st.job) =>
        val parent = jobs.get(st.job)
        Span(Recorder.StageIds + sid, Recorder.JobIds + st.job,
          byId.get(parent.span).map(_.op).getOrElse(0L), "spark.stage", st.name, st.start, st.end)
    }
    (spans.toSeq ++ jobSpans ++ stageSpans).sortBy(s => (s.start, s.id))
  }

  /** Write every span as one JSON line, once, at the end of the run. */
  def writeTrace(path: Path): Unit = {
    Option(path.getParent).foreach(Files.createDirectories(_))
    val lines = allSpans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
        s""""name":"${Json.esc(s.name)}","start_ms":${s.start},"end_ms":${s.end}}"""
    }
    Files.write(path, lines.asJava)
  }
}

object Recorder {
  val JobIds = 1000000000L
  val StageIds = 2000000000L

  /** Parquet files (path -> bytes) under `root`, hidden staging
    * directories included (a verb has published or discarded them by
    * the time it returns). */
  def parquetFiles(root: Path): Map[String, Long] =
    if (!Files.isDirectory(root)) Map.empty
    else {
      val st = Files.walk(root)
      try st.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .map(p => p.toString -> Files.size(p)).toMap
      finally st.close()
    }
}

object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
