package perfbench

import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer
import graft.core.{Engine, EngineOptions, Point, TestClock}
import graft.plans.DoubleFromPayload
import Gen._

/** Read path with no writes in the timed phase. Setup bulk-loads
  * `BulkPoints` points over the older buckets in one put (one batch dir
  * per bucket, the compacted layout) and `HotPuts` small puts into the
  * two newest buckets (split across many batch dirs), then refreshes
  * the hourly rollup. The mix: 80% `get` of one series over 1 h - 7 d,
  * skewed toward a few series and toward recent buckets; 15% wildcard
  * `find` (trailing: one group's `Members` series, or leading: one
  * member across `Groups` groups) over 1 h - 1 d; 5% wildcard
  * `rollup` over 1 - 7 d. */
final class SeriesRead(ctx: Ctx) extends Workload {
  private val Groups = 40
  private val Members = 50
  private val Series = Groups * Members
  private val Buckets = 30
  private val HotBuckets = 2
  private val BulkPoints = 60000
  private val HotPuts = 4
  private val HotBatch = 2000

  private val rng = new scala.util.Random(ctx.seed)
  private val rec = ctx.rec
  private val model = new Model(i => Seq(s"g${i / Members}", s"m${i % Members}"))
  private val nowNs = T0 + Buckets * Day - Minute
  private val nowSlot = (nowNs - T0) / Minute
  private val slotsPerDay = Day / Minute
  private var dir: Path = _
  private var clock: TestClock = _
  private var engine: Engine = _
  private var slots: Array[Array[Long]] = _
  private val Rechecked = 5
  private val finds = ArrayBuffer[(Seq[String], Seq[Int], Long, Long)]()
  private val rollups = ArrayBuffer[(Seq[String], Seq[Int], Long, Long)]()

  def mix: Seq[(String, Double)] = Seq("get" -> 0.80, "find" -> 0.15, "rollup" -> 0.05)
  def storeRoot: Option[Path] = Option(dir)

  private def points(n: Int, fromSlot: Long, toSlot: Long, seq0: Long): Seq[Point] =
    (0 until n).map { i =>
      val s = rng.nextInt(Series)
      val slot = fromSlot + (rng.nextDouble() * (toSlot - fromSlot)).toLong
      val p = DoubleFromPayload.encode(value(rng))
      model.put(s, slot, p, seq0 + i)
      Point(T0 + slot * Minute, model.tags(s), p)
    }

  def setup(d: Path): Unit = {
    dir = d
    clock = new TestClock(nowNs)
    engine = new Engine(ctx.spark,
      EngineOptions("series", d.toString, indexDepth = 2, payloadSize = 8,
        bucketDuration = Day, resolution = Minute, maxHotBuckets = Buckets + 2), clock)
    val hotFrom = (Buckets - HotBuckets) * slotsPerDay
    engine.put(points(BulkPoints, 0L, hotFrom, 0L))
    (0 until HotPuts).foreach { j =>
      engine.put(points(HotBatch, hotFrom, nowSlot + 1, BulkPoints.toLong + j * HotBatch))
    }
    engine.refreshRollup(Hour)
    slots = model.slotsBySeries(Series)
  }

  override def warmup(): Unit = (1 to 2).foreach { _ => get(); get(); find(); rollup() }

  /** Skewed toward low indexes: a few series/groups take most reads. */
  private def skewed(n: Int): Int = (n * math.pow(rng.nextDouble(), 3)).toInt

  /** Range end skewed toward now (exponential, mean two days back). */
  private def recentEnd(maxSlot: Long): Long =
    maxSlot - (-math.log(1 - rng.nextDouble()) * 2 * slotsPerDay).toLong.min(maxSlot - 60)

  private def pattern(): (Seq[String], Seq[Int]) =
    if (rng.nextBoolean()) {
      val g = skewed(Groups)
      (Seq(s"g$g", ""), (0 until Members).map(g * Members + _))
    } else {
      val m = skewed(Members)
      (Seq("", s"m$m"), (0 until Groups).map(_ * Members + m))
    }

  private def count(s: Int, from: Long, to: Long): Int = {
    val a = slots(s)
    val lo = java.util.Arrays.binarySearch(a, from)
    val hi = java.util.Arrays.binarySearch(a, to)
    (if (hi < 0) -hi - 1 else hi) - (if (lo < 0) -lo - 1 else lo)
  }

  /** The mix, dealt in shuffled blocks of 20 so every run sees each
    * kind in its share. */
  private val block = Seq.fill(16)("get") ++ Seq.fill(3)("find") :+ "rollup"
  private var dealt = List.empty[String]

  def step(): Unit = {
    if (dealt.isEmpty) dealt = rng.shuffle(block).toList
    val kind = dealt.head
    dealt = dealt.tail
    kind match {
      case "get" => get()
      case "find" => find()
      case _ => rollup()
    }
  }

  private def get(): Unit = {
    val s = skewed(Series)
    val end = recentEnd(nowSlot + 1)
    val start = math.max(0L, end - logUniform(rng, 60, 7 * slotsPerDay))
    rec.op("get") {
      rec.verb("get")(engine.get(T0 + start * Minute, T0 + end * Minute, model.tags(s)).collect())
    }.foreach { rows =>
      rec.check(rows.length == end - start, s"get rows ${rows.length} != ${end - start}")
      rows.iterator.zipWithIndex.foreach { case (r, j) =>
        val want = model.payload(s, start + j).getOrElse(engine.zeroPayload)
        rec.check(r.getLong(0) == T0 + (start + j) * Minute &&
          java.util.Arrays.equals(r.getAs[Array[Byte]]("payload"), want),
          s"get series $s slot ${start + j} differs from the last accepted write")
      }
    }
  }

  private def find(): Unit = {
    val (tags, members) = pattern()
    val end = recentEnd(nowSlot)
    val start = math.max(0L, end - logUniform(rng, 60, slotsPerDay))
    rec.op("find")(rec.verb("find")(noop(engine.find(T0 + start * Minute, T0 + end * Minute, tags))))
    if (finds.size < Rechecked) finds += ((tags, members, start, end))
  }

  private def checkFind(tags: Seq[String], members: Seq[Int], start: Long, end: Long): Unit = {
    val n = rows(sink(engine.find(T0 + start * Minute, T0 + end * Minute, tags)))
    val seen = members.count(count(_, start, end) > 0)
    rec.check(n == seen * (end - start), s"find $tags rows $n != $seen series x ${end - start} slots")
  }

  private def rollup(): Unit = {
    val (tags, members) = pattern()
    val perHour = Hour / Minute
    val end = recentEnd(nowSlot) / perHour * perHour
    val start = math.max(0L, end - logUniform(rng, 24, 7 * 24) * perHour)
    rec.op("rollup")(rec.verb("rollup")(noop(engine.rollup(T0 + start * Minute, T0 + end * Minute, tags, Hour))))
    if (rollups.size < Rechecked) rollups += ((tags, members, start, end))
  }

  private def checkRollup(tags: Seq[String], members: Seq[Int], start: Long, end: Long): Unit = {
    val perHour = Hour / Minute
    val n = rows(sink(engine.rollup(T0 + start * Minute, T0 + end * Minute, tags, Hour)))
    val want = members.map { s =>
      (start until end by perHour).count(h => count(s, h, h + perHour) > 0)
    }.sum
    rec.check(n == want, s"rollup $tags rows $n != $want (series, hour) cells")
  }

  /** Timed finds and rollups go to the noop sink; the first few of each
    * run again here with their row count observed and checked. */
  def verify(): Unit = {
    finds.foreach((checkFind _).tupled)
    rollups.foreach((checkRollup _).tupled)
    Checks.restart(ctx, engine, clock, model)
  }

  def named(elapsedS: Double): Seq[Named] = {
    def ms(k: String) = rec.opMs.getOrElse(k, ArrayBuffer()).toSeq
    Seq(
      Named("get_p50_ms", Stats.median(ms("get")), "ms", ms("get").size),
      Named("get_p90_ms", Stats.percentile(ms("get"), 90), "ms", ms("get").size),
      Named("find_p50_ms", Stats.median(ms("find")), "ms", ms("find").size),
      Named("rollup_p50_ms", Stats.median(ms("rollup")), "ms", ms("rollup").size))
  }
}
