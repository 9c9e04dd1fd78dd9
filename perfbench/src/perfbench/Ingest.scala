package perfbench

import java.nio.file.Path
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import graft.core.{Engine, EngineErrors, EngineOptions, Point, TestClock}
import graft.plans.DoubleFromPayload
import Gen._

/** Write path with the read path idle: puts of `Batch` points over
  * `Series` series into the two hot buckets. Each batch overwrites
  * slots already written (last-writer-wins) and carries a small share
  * of rows the engine must reject, one defect each. Every `K` puts the
  * clock moves one bucket and one maintenance cycle runs:
  * fragmentedColdBuckets -> compactBucket, refreshRollup, then
  * removeBefore past a `Retention`-bucket horizon. */
final class Ingest(ctx: Ctx) extends Workload {
  private val Groups = 100
  private val Members = 50
  private val Series = Groups * Members
  private val Batch = 2000
  private val K = 4
  private val Retention = 4
  private val OverwriteShare = 0.10
  private val RejectShare = 0.02

  private val rng = new scala.util.Random(ctx.seed)
  private val rec = ctx.rec
  private val model = new Model(i => Seq(s"g${i / Members}", s"m${i % Members}"))
  private var dir: Path = _
  private var clock: TestClock = _
  private var engine: Engine = _
  private var nowBucket = T0 + Day
  private var nextSeq = 0L
  private var sincePut = 0
  /** Points accepted during the timed phase. */
  private var accepted = 0L
  /** Keys written inside the current hot window, for overwrites. */
  private val recent = ArrayBuffer[Long]()

  def mix: Seq[(String, Double)] = Seq("put" -> K.toDouble, "maint" -> 1.0)
  def storeRoot: Option[Path] = Option(dir)

  private def nowNs = nowBucket + Day - Minute
  private def hotStartSlot = (nowBucket - Day - T0) / Minute
  private def nowSlot = (nowNs - T0) / Minute

  def setup(d: Path): Unit = {
    dir = d
    clock = new TestClock(nowNs)
    engine = new Engine(ctx.spark,
      EngineOptions("ingest", d.toString, indexDepth = 2, payloadSize = 8,
        bucketDuration = Day, resolution = Minute, maxHotBuckets = 2), clock)
    engine.put(batch()._1)
  }

  /** One generated batch, the ledger it must produce, and the model
    * updates to apply when it is accepted. */
  private def batch(): (Seq[Point], Map[String, Long]) = {
    val pts = new ArrayBuffer[Point](Batch)
    val ledger = mutable.Map[String, Long]().withDefaultValue(0L)
    val base = nextSeq
    val span = nowSlot - hotStartSlot + 1
    def validTs(slot: Long) = T0 + slot * Minute
    var i = 0
    while (i < Batch) {
      val u = rng.nextDouble()
      val v = value(rng)
      if (u < RejectShare) {
        val s = rng.nextInt(Series)
        val tags = model.tags(s)
        val ok = validTs(hotStartSlot + rng.nextInt(span.toInt))
        rng.nextInt(4) match {
          case 0 =>
            pts += Point(nowNs + (1 + rng.nextInt(60)) * Minute, tags, DoubleFromPayload.encode(v))
            ledger(EngineErrors.InvalidTimestamp) += 1
          case 1 =>
            pts += Point(nowBucket - Day - (1 + rng.nextInt(1000)) * Minute, tags, DoubleFromPayload.encode(v))
            ledger(EngineErrors.WriteOnReadOnly) += 1
          case 2 =>
            pts += Point(ok, tags.take(1), DoubleFromPayload.encode(v))
            ledger(EngineErrors.InvalidIndexValues) += 1
          case _ =>
            pts += Point(ok, tags, DoubleFromPayload.encode(v).take(7))
            ledger(EngineErrors.InvalidPayload) += 1
        }
      } else {
        val k =
          if (u < RejectShare + OverwriteShare && recent.nonEmpty) recent(rng.nextInt(recent.size))
          else {
            val k = model.key(rng.nextInt(Series), hotStartSlot + rng.nextInt(span.toInt))
            recent += k
            k
          }
        val s = model.seriesOf(k)
        val slot = model.slotOf(k)
        val p = DoubleFromPayload.encode(v)
        pts += Point(validTs(slot), model.tags(s), p)
        model.put(s, slot, p, base + i)
        ledger(EngineErrors.Ok) += 1
      }
      i += 1
    }
    nextSeq += Batch
    (pts.toSeq, ledger.toMap)
  }

  /** Three untimed cycles of `K` puts and a maintenance run each. */
  override def warmup(): Unit = (1 to 3 * (K + 1)).foreach(_ => step())

  def step(): Unit =
    if (sincePut == K) {
      sincePut = 0
      maintain()
    } else {
      sincePut += 1
      val (pts, want) = batch()
      rec.op("put") { rec.verb("put", writes = true)(engine.put(pts)) }.foreach { got =>
        rec.check(got.filter(_._2 > 0) == want, s"put ledger $got != planned $want")
        accepted += got.getOrElse(EngineErrors.Ok, 0L)
      }
    }

  private def maintain(): Unit = {
    nowBucket += Day
    clock.goto(nowNs)
    val horizon = nowBucket - Retention * Day
    val live = model.keys.groupBy(k => T0 + model.slotOf(k) / (Day / Minute) * Day)
      .map { case (b, ks) => b -> ks.size.toLong }
    rec.op("maint") {
      val frag = rec.verb("fragmentedColdBuckets")(engine.fragmentedColdBuckets())
      frag.foreach { b =>
        val (_, after) = rec.verb("compactBucket", writes = true)(engine.compactBucket(b))
        rec.check(after == live.getOrElse(b, 0L),
          s"compactBucket($b) kept $after rows, model has ${live.getOrElse(b, 0L)}")
      }
      rec.verb("refreshRollup", writes = true)(engine.refreshRollup(Hour))
      if (horizon > T0) rec.verb("removeBefore")(engine.removeBefore(horizon))
    }
    if (horizon > T0) model.dropSlotsBefore((horizon - T0) / Minute)
    recent.filterInPlace(k => model.slotOf(k) >= hotStartSlot)
  }

  def verify(): Unit = {
    // sampled slots: whole retained range of a few written series
    val series = model.keys.iterator.map(model.seriesOf).take(200).toSeq.distinct.take(5)
    val from = math.max(0L, (nowBucket - (Retention - 1) * Day - T0) / Minute)
    series.foreach { s =>
      val rows = engine.get(T0 + from * Minute, nowNs + Minute, model.tags(s)).collect()
      rec.check(rows.length == nowSlot + 1 - from, s"get rows ${rows.length} != ${nowSlot + 1 - from}")
      rows.iterator.zipWithIndex.foreach { case (r, j) =>
        val want = model.payload(s, from + j).getOrElse(engine.zeroPayload)
        rec.check(java.util.Arrays.equals(r.getAs[Array[Byte]]("payload"), want),
          s"series $s slot ${from + j} payload differs from the last accepted write")
      }
    }
    Checks.restart(ctx, engine, clock, model)
  }

  def named(elapsedS: Double): Seq[Named] = {
    val put = rec.opMs.getOrElse("put", ArrayBuffer())
    val maint = rec.opMs.getOrElse("maint", ArrayBuffer())
    val storeBytes = Recorder.parquetFiles(dir.resolve("ingest")).values.sum
    val written = rec.fsWritten.values.map(_._3).sum
    Seq(
      Named("ingest_pts_per_s", accepted / elapsedS, "1/s", put.size),
      Named("put_p50_ms", Stats.median(put.toSeq), "ms", put.size),
      Named("maint_p50_ms", Stats.median(maint.toSeq), "ms", maint.size),
      Named("store_bytes_per_pt", storeBytes.toDouble / model.size, "bytes", model.size)) ++
      (if (rec.traced) Seq(Named("written_bytes_per_pt", written.toDouble / accepted, "bytes", put.size + maint.size))
       else Nil)
  }
}
