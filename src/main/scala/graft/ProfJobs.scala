package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import scala.collection.concurrent.TrieMap

/** Dev tool: per-JOB wall-clock breakdown of one or more declared
  * queries — where a lifecycle twin's seconds actually go (which engine
  * verb, how many jobs, how much is driver gap between jobs). Runs each
  * named query once warm, once profiled, then prints every Spark job of
  * the profiled run with its duration and first-stage callsite, plus
  * the summed job time vs wall time (the difference is driver-side
  * work: planning, FS listings, renames).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.ProfJobs <query...>"
  */
object ProfJobs {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfJobs <queryName> [more...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.EngineSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val jobs = TrieMap[Int, (Long, Long, String)]() // id -> (t0, t1, site)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = js.stageInfos.lastOption.map(_.name).getOrElse("?")
        jobs.put(js.jobId, (System.nanoTime(), -1L, site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.get(je.jobId).foreach { case (t0, _, s) =>
          jobs.put(je.jobId, (t0, System.nanoTime(), s))
        }
    }
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm pass (codegen/JIT/footers)
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      spark.sharedState.cacheManager.clearCache()
      jobs.clear()
      spark.sparkContext.addSparkListener(listener)
      val w0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - w0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      spark.sharedState.cacheManager.clearCache()
      val recs = jobs.toSeq.sortBy(_._1)
      var sum = 0.0
      println(s"==== $name  wall=${f"$wall%.3f"}s  jobs=${recs.size}")
      var prevEnd = w0
      recs.foreach { case (id, (t0, t1, site)) =>
        val dur = if (t1 > 0) (t1 - t0) / 1e9 else -1.0
        val gap = (t0 - prevEnd) / 1e9
        if (t1 > 0) { sum += dur; prevEnd = t1 }
        println(f"  job $id%4d  ${dur}%8.3f s  gap=${gap}%7.3f  $site")
      }
      println(f"  SUM(jobs)=${sum}%.3f s   wall=${wall}%.3f s   driver-gap=${wall - sum}%.3f s")
    }
    spark.stop()
  }
}
