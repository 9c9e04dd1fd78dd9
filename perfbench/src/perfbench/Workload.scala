package perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Engine

/** What every workload gets: the session, its seed and the recorder. */
final case class Ctx(spark: SparkSession, seed: Long, rec: Recorder)

/** One of the benchmark's named end-to-end figures, printed by name
  * with its unit and sample count. */
final case class Named(name: String, value: Double, unit: String, samples: Int)

/** A seeded workload driven by one closed-loop client. The runner
  * builds a fresh instance per setup, times [[setup]], calls
  * [[warmup]] untimed, then [[step]] until the run's time is up, and
  * finally [[verify]]. */
trait Workload {
  /** Op kinds and their shares of the mix (weights for `mix_ms`). */
  def mix: Seq[(String, Double)]
  def setup(dir: Path): Unit
  def warmup(): Unit = ()
  def step(): Unit
  def verify(): Unit
  def named(elapsedS: Double): Seq[Named]
  /** The engine's data dir, listed by the fs layer. */
  def storeRoot: Option[Path]
}

object Workload {
  val names: Seq[String] = Seq("ingest", "series_read", "ann_serve", "query_heavy")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ingest" => new Ingest(ctx)
    case "series_read" => new SeriesRead(ctx)
    case "ann_serve" => new AnnServe(ctx)
    case "query_heavy" => new QueryHeavy(ctx)
  }
}

object Gen {
  val Minute: Long = 60L * 1000 * 1000 * 1000
  val Hour: Long = 60 * Minute
  val Day: Long = 24 * Hour
  /** 2024-01-01T00:00:00Z, the start of every workload's timeline. */
  val T0: Long = 1704067200000000000L

  /** A non-zero two-decimal value, so a stored point never reads back
    * as the engine's zero payload. */
  def value(rng: scala.util.Random): Double = (rng.nextInt(2000000) + 1) / 100.0

  def logUniform(rng: scala.util.Random, lo: Long, hi: Long): Long =
    math.exp(math.log(lo.toDouble) + rng.nextDouble() * (math.log(hi.toDouble) - math.log(lo.toDouble)))
      .round.max(lo).min(hi)

  /** Run `df` to completion on the noop sink, observing its row count
    * inside the same job; read it with [[rows]]. Checks only: the
    * observation made declared queries about 15% slower, so timed ops
    * use [[noop]]. */
  def sink(df: DataFrame): Observation = {
    val obs = new Observation()
    df.observe(obs, count(lit(1)).as("n")).write.mode("overwrite").format("noop").save()
    obs
  }

  def rows(obs: Observation): Long = obs.get("n").asInstanceOf[Long]

  /** Run `df` to completion on the noop sink, as graft.Bench does. */
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
}

/** The benchmark's own last-writer-wins model of an engine table:
  * (series, minute slot) -> (payload, seq). Series are named by index;
  * `tags(i)` gives the engine tags. */
final class Model(val tags: Int => Seq[String]) {
  private val vals = mutable.LongMap[Array[Byte]]()
  private val seqs = mutable.LongMap[Long]()

  def key(series: Int, slot: Long): Long = (series.toLong << 32) | slot
  def seriesOf(k: Long): Int = (k >>> 32).toInt
  def slotOf(k: Long): Long = k & 0xffffffffL

  def put(series: Int, slot: Long, payload: Array[Byte], seq: Long): Unit = {
    val k = key(series, slot)
    vals(k) = payload
    seqs(k) = seq
  }
  def payload(series: Int, slot: Long): Option[Array[Byte]] = vals.get(key(series, slot))
  def size: Int = vals.size
  def keys: Iterable[Long] = vals.keys
  def dropSlotsBefore(slot: Long): Unit = {
    val doomed = vals.keys.filter(k => slotOf(k) < slot).toList
    doomed.foreach { k => vals.remove(k); seqs.remove(k) }
  }

  /** Per series, the sorted slots that hold a value. */
  def slotsBySeries(nSeries: Int): Array[Array[Long]] = {
    val b = Array.fill(nSeries)(mutable.ArrayBuilder.make[Long])
    vals.keys.foreach(k => b(seriesOf(k)) += slotOf(k))
    b.map { x => val a = x.result(); java.util.Arrays.sort(a); a }
  }

  /** The engine's `lwwChecksum` (row count, xor of xxhash64 over
    * tags, slot_ns, seq and payload), computed from this model's rows
    * by the same Spark expression. */
  def checksum(spark: SparkSession, depth: Int): (Long, Long) = {
    val tagCols = (0 until depth).map(i => s"tag$i")
    val schema = StructType(tagCols.map(StructField(_, StringType)) ++ Seq(
      StructField("slot_ns", LongType), StructField("seq", LongType),
      StructField("payload", BinaryType)))
    val rows = vals.iterator.map { case (k, p) =>
      Row.fromSeq(tags(seriesOf(k)) ++ Seq(Gen.T0 + slotOf(k) * Gen.Minute, seqs(k), p))
    }.toSeq
    val r = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .select(xxhash64((tagCols :+ "slot_ns" :+ "seq" :+ "payload").map(col): _*).as("h"))
      .agg(count(lit(1)), expr("coalesce(bit_xor(h), 0L)")).head()
    (r.getLong(0), r.getLong(1))
  }
}

/** Shared checks on an engine the workload drove. */
object Checks {
  /** A fresh Engine on the same directory must serve the checksum the
    * benchmark computes from its own rows: restart durability. */
  def restart(ctx: Ctx, e: Engine, clock: graft.core.Clock, model: Model): Unit = {
    val fresh = new Engine(ctx.spark, e.opts, clock)
    val got = fresh.lwwChecksum(Long.MaxValue)
    val want = model.checksum(ctx.spark, e.opts.indexDepth)
    ctx.rec.check(got == want, s"restart checksum $got != model $want")
  }
}
