package perfbench

import java.nio.file.Path
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.core.{Engine, EngineOptions, PqParams, Point, TestClock}
import graft.plans.FloatsFromPayload
import Gen._

/** The persisted vector index under reads and writes. Setup writes
  * `Vectors` 64-dim float32 vectors (256-byte payloads) drawn from a
  * seeded `Clusters`-component Gaussian mixture and builds the IVF
  * index with a PQ tier. The timed loop sends `QBatch`-query batches
  * rotating through annSearch, annSearchAdc and annSearchRerank; every
  * `WriteEvery` batches it puts `WriteBatch` vectors (a share
  * overwriting existing keys) and calls refreshVectorIndex, and every
  * `CompactEvery` refreshes compactVectorIndex. */
final class AnnServe(ctx: Ctx) extends Workload {
  private val Dim = 64
  private val Vectors = 2000
  private val Clusters = 16
  private val Cells = 8
  private val QBatch = 16
  private val TopK = 10
  private val NProbe = 4
  private val Shortlist = 50
  private val WriteEvery = 6
  private val WriteBatch = 200
  private val OverwriteShare = 0.25
  private val CompactEvery = 3

  private val rng = new scala.util.Random(ctx.seed)
  private val rec = ctx.rec
  private val model = new Model(i => Seq(f"v$i%06d"))
  /** Current vector of every key, for brute-force scoring. */
  private val vecs = mutable.LongMap[Array[Float]]()
  private val slot = Day / Minute - 1
  private val nowNs = T0 + Day
  private var dir: Path = _
  private var clock: TestClock = _
  private var engine: Engine = _
  private var nextSeq = 0L
  private var batches = 0
  private var refreshes = 0
  private val recall = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()

  private val centers = Array.fill(Clusters, Dim)(rng.nextGaussian().toFloat)
  private def draw(): Array[Float] = {
    val c = centers(rng.nextInt(Clusters))
    Array.tabulate(Dim)(j => c(j) + 0.35f * rng.nextGaussian().toFloat)
  }

  private val tiers = Seq("ann_exact" -> "annSearch", "ann_adc" -> "annSearchAdc",
    "ann_rerank" -> "annSearchRerank")
  def mix: Seq[(String, Double)] =
    tiers.map(_._1 -> WriteEvery / 3.0) :+ ("ann_write" -> 1.0)
  def storeRoot: Option[Path] = Option(dir)

  /** Put `n` vectors, `overwrite` of them over existing keys. */
  private def points(n: Int, overwrite: Double): Seq[Point] = {
    val seq0 = nextSeq
    nextSeq += n
    (0 until n).map { i =>
      val id = if (vecs.nonEmpty && rng.nextDouble() < overwrite) rng.nextInt(vecs.size) else vecs.size
      val v = draw()
      vecs(id.toLong) = v
      val p = FloatsFromPayload.encode(v.toSeq)
      model.put(id, slot, p, seq0 + i)
      Point(T0 + slot * Minute, model.tags(id), p)
    }
  }

  def setup(d: Path): Unit = {
    dir = d
    clock = new TestClock(nowNs)
    engine = new Engine(ctx.spark,
      EngineOptions("vectors", d.toString, indexDepth = 1, payloadSize = 4 * Dim,
        bucketDuration = Day, resolution = Minute, maxHotBuckets = 2), clock)
    engine.put(points(Vectors, 0.0))
    engine.buildVectorIndex(Cells, 3, Some(PqParams(8, 16, 3)))
  }

  override def warmup(): Unit = {
    tiers.indices.foreach(_ => search())
    batches = 0
    recall.clear()
  }

  private val qSchema = StructType(Seq(StructField("qid", LongType),
    StructField("qv", ArrayType(FloatType, containsNull = false))))

  def step(): Unit =
    if (batches > 0 && batches % WriteEvery == 0 && refreshes < batches / WriteEvery) write()
    else search()

  private def write(): Unit = {
    refreshes += 1
    val pts = points(WriteBatch, OverwriteShare)
    rec.op("ann_write") {
      rec.verb("put", writes = true)(engine.put(pts))
      rec.verb("refreshVectorIndex", writes = true)(engine.refreshVectorIndex())
      if (refreshes % CompactEvery == 0)
        rec.verb("compactVectorIndex", writes = true)(engine.compactVectorIndex())
    }
  }

  private def search(): Unit = {
    val (kind, verb) = tiers(batches % tiers.size)
    batches += 1
    val qs = Array.fill(QBatch)(draw())
    val qdf: DataFrame = ctx.spark.createDataFrame(
      ctx.spark.sparkContext.parallelize(qs.indices.map(i => Row(i.toLong, qs(i).toSeq)), 1), qSchema)
    rec.op(kind) {
      rec.verb(verb)(verb match {
        case "annSearch" => engine.annSearch(qdf, NProbe, TopK).collect()
        case "annSearchAdc" => engine.annSearchAdc(qdf, NProbe, TopK).collect()
        case _ => engine.annSearchRerank(qdf, NProbe, TopK, Shortlist).collect()
      })
    }.foreach(rows => checkResult(kind, qs, rows))
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Every query gets ranks 1..TopK over live keys; the exact tiers'
    * scores must be the cosine to each key's current vector (a stale
    * overwritten version would score differently); recall@TopK is
    * taken against brute force over every live vector. */
  private def checkResult(kind: String, qs: Array[Array[Float]], rows: Array[Row]): Unit = {
    def num(r: Row, c: String) = r.getAs[Number](c)
    val byQ = rows.groupBy(num(_, "qid").longValue)
    qs.indices.foreach { q =>
      val got = byQ.getOrElse(q.toLong, Array.empty[Row]).sortBy(num(_, "rk").intValue)
      val ranks = got.map(num(_, "rk").intValue).toSeq
      rec.check(ranks == (1 to TopK), s"$kind query $q ranks ${ranks.mkString(",")}")
      val ids = got.map(r => r.getAs[String]("tag0").drop(1).toLong)
      rec.check(ids.forall(vecs.contains), s"$kind query $q returned an unknown key")
      if (kind != "ann_adc") got.zip(ids).foreach { case (r, id) =>
        vecs.get(id).foreach { v =>
          val want = cosine(qs(q), v)
          val cos = num(r, "cos").doubleValue
          rec.check(math.abs(cos - want) < 1e-4,
            s"$kind query $q key $id cos $cos != current vector's $want")
        }
      }
      val best = vecs.iterator.map { case (id, v) => (cosine(qs(q), v), id) }.toSeq
        .sortBy(x => (-x._1, x._2)).take(TopK).map(_._2).toSet
      recall.getOrElseUpdate(kind, ArrayBuffer()) += ids.count(best.contains).toDouble / TopK
    }
  }

  def verify(): Unit = {
    val exact = recall.getOrElse("ann_exact", ArrayBuffer()).toSeq
    rec.check(exact.isEmpty || Stats.mean(exact) >= 0.5,
      s"annSearch recall@$TopK ${Stats.mean(exact)} below 0.5")
    Checks.restart(ctx, engine, clock, model)
  }

  def named(elapsedS: Double): Seq[Named] = {
    def ms(k: String) = rec.opMs.getOrElse(k, ArrayBuffer()).toSeq
    val exact = recall.getOrElse("ann_exact", ArrayBuffer()).toSeq
    tiers.map { case (k, _) => Named(s"${k}_p50_ms", Stats.median(ms(k)), "ms", ms(k).size) } ++ Seq(
      Named("ann_write_p50_ms", Stats.median(ms("ann_write")), "ms", ms("ann_write").size),
      Named("ann_recall_at_10", Stats.mean(exact), "ratio", exact.size)) ++
      Seq("ann_adc", "ann_rerank").map { k =>
        val r = recall.getOrElse(k, ArrayBuffer()).toSeq
        Named(s"${k}_recall_at_10", Stats.mean(r), "ratio", r.size)
      }
  }
}
