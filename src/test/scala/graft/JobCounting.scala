package graft

import scala.collection.concurrent.TrieMap
import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.BeforeAndAfterAll

/** Counts the Spark jobs a block of code runs. A listener only sees
  * jobs submitted under a per-block local property, so jobs of other
  * blocks never leak into a count. */
trait JobCounting extends SparkTestBase with BeforeAndAfterAll {

  private val TagKey = "graft.test.jobBlock"
  private val started = TrieMap.empty[String, Int] // written by the one bus thread

  private object JobCounter extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).foreach { tag =>
        started.update(tag, started.getOrElse(tag, 0) + 1)
      }
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(JobCounter)
  }

  override def afterAll(): Unit =
    try spark.sparkContext.removeSparkListener(JobCounter) finally super.afterAll()

  /** `body`'s result and the number of Spark jobs it ran. */
  def jobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(TagKey, tag)
    val out = try body finally sc.setLocalProperty(TagKey, null)
    GraftTestBus.drain(sc)
    (out, started.getOrElse(tag, 0))
  }
}
