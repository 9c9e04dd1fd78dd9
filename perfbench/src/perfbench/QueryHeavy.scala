package perfbench

import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.SparkEntry
import Gen._

/** Four fixed declared queries from `SparkEntry.queries` that exercise
  * graft.operators (suffix doubling, graph iteration, PPJoin) and
  * graft.streaming (`foreachBatch` ingest with rollup refresh), run the
  * way graft.Bench runs them: each timed execution on the noop sink
  * followed by `clearCache`.
  *
  * Setup writes the tables they read from the seed, with the shapes
  * measured on the sf0.1 testdata at a twentieth of its size (see
  * [[QueryHeavy.Sf01]]), then runs every query once on them, collected
  * and checked: the cold first execution of each plan is the set-up
  * cost. One untimed pass follows, then the timed loop; the seed
  * shuffles the query order of every pass. */
final class QueryHeavy(ctx: Ctx) extends Workload {
  import QueryHeavy._
  private val Names = Main.Queries

  private val rng = new scala.util.Random(ctx.seed)
  private val rec = ctx.rec
  private val spark = ctx.spark
  private val queries = SparkEntry.queries
  private var dir: Path = _
  /** Every generated event's value, in cents. */
  private var cents: Seq[Long] = Nil

  def mix: Seq[(String, Double)] = Names.map(_ -> 1.0)
  def storeRoot: Option[Path] = None

  private def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(dir.resolve(s"$name.parquet").toString)

  private def pick(weights: Seq[Int]): Int = {
    var u = rng.nextInt(weights.sum)
    weights.indexWhere { w => u -= w; u < 0 }
  }

  def setup(d: Path): Unit = {
    dir = d
    // documents: uniform token counts over a uniform vocabulary, and a
    // share of near-duplicates (a copy of another document plus one
    // token), as in sf0.1
    val originals = Seq.fill(Docs - Docs * Sf01.DupPct / 100) {
      Seq.fill(Sf01.MinTokens + rng.nextInt(Sf01.MaxTokens - Sf01.MinTokens + 1))(
        Sf01.Vocab(rng.nextInt(Sf01.Vocab.size))).mkString(" ")
    }
    val texts = rng.shuffle(originals ++
      Seq.fill(Docs * Sf01.DupPct / 100)(originals(rng.nextInt(originals.size)) + " dup"))
    write("documents", StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType))),
      texts.zipWithIndex.map { case (text, i) =>
        Row(i.toLong, text, Sf01.Langs(pick(Sf01.LangWeights)), s"src${i % Sf01.Sources}", text.length.toLong)
      })
    // lineitem: order sizes drawn from sf0.1's histogram, parts uniform
    val lines = (0 until Orders).flatMap { o =>
      Seq.fill(1 + pick(Sf01.LinesPerOrder))(Row(o.toLong, rng.nextInt(Parts).toLong))
    }
    write("lineitem", StructType(Seq(StructField("l_orderkey", LongType), StructField("l_partkey", LongType))),
      lines)
    write("part", StructType(Seq(StructField("p_partkey", LongType))),
      (0 until Parts).map(p => Row(p.toLong)))
    // events: uniform times over 30 days, uniform users and types, and
    // exponential values with sf0.1's mean (at least one cent)
    val ev = (0 until Events).map { i =>
      (i.toLong, T0 + (rng.nextDouble() * 30 * Day).toLong, rng.nextInt(Users).toLong,
        Sf01.EventTypes(rng.nextInt(Sf01.EventTypes.size)),
        math.max(1L, math.round(-math.log(1.0 - rng.nextDouble()) * Sf01.MeanValueCents)))
    }
    write("events", StructType(Seq(StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
      ev.map { case (id, ts, u, t, c) => Row(id, ts, u, t, c / 100.0, s"""{"k": ${id % 100}}""") })
    cents = ev.map(_._5)
    // first execution of every query on the new tables, collected and
    // checked
    Names.foreach { name =>
      val rows = run(name).collect()
      spark.sharedState.cacheManager.clearCache()
      rec.check(rows.nonEmpty, s"$name returned no rows")
      def total(c: String) = rows.map(_.getAs[Number](c).longValue).sum
      if (name == "stream_rollup_twin") {
        rec.check(total("cnt") == cents.size, s"stream_rollup_twin counted ${total("cnt")} of ${cents.size}")
        rec.check(total("sum_cents") == cents.sum,
          s"stream_rollup_twin summed ${total("sum_cents")} cents, want ${cents.sum}")
      }
    }
  }

  private def run(name: String): DataFrame = queries(name)(spark, dir.toString)

  /** The rest of the current pass. */
  private var pass: List[String] = Nil

  /** One pass, untimed: the set-ups ran every query on other tables. */
  override def warmup(): Unit = Names.foreach(_ => step())

  /** The next query of the current pass. */
  def step(): Unit = {
    if (pass.isEmpty) pass = rng.shuffle(Names).toList
    val name = pass.head
    pass = pass.tail
    rec.op(name)(rec.verb(name, layer = "query")(noop(run(name))))
    spark.sharedState.cacheManager.clearCache()
  }

  def verify(): Unit = ()

  def named(elapsedS: Double): Seq[Named] = {
    val per = Names.map(n => n -> rec.opMs.getOrElse(n, ArrayBuffer()).toSeq)
    Named("query_heavy_s", per.map(p => Stats.median(p._2)).sum / 1000.0, "s", per.map(_._2.size).min) +:
      per.map { case (n, xs) => Named(s"$n.p50_ms", Stats.median(xs), "ms", xs.size) }
  }
}

object QueryHeavy {
  /** Shapes of the sf0.1 testdata tables these queries read, measured
    * on them (5000 documents, 600k lineitems over 147k orders and 20k
    * parts, 100k events from 1500 users). */
  object Sf01 {
    val Vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column", "vector", "stream", "value",
      "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort", "order", "slow", "line",
      "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
    /** Token counts per document are uniform over this range. */
    val MinTokens = 10
    val MaxTokens = 100
    /** 250 of 5000 documents repeat another one with " dup" appended. */
    val DupPct = 5
    val Langs: Seq[String] = Seq("en", "zh", "es", "fr", "de")
    val LangWeights: Seq[Int] = Seq(2059, 753, 744, 742, 702)
    val Sources = 20
    /** Orders with 1, 2, ... 17 lines. */
    val LinesPerOrder: Seq[Int] = Seq(11016, 21814, 29500, 29097, 23631, 15625, 8941, 4407, 1959, 818, 292,
      93, 29, 10, 1, 2, 1)
    val EventTypes: Seq[String] = Seq("view", "click", "purchase", "signup", "error")
    /** Event values are exponential with this mean (49.87). */
    val MeanValueCents = 4987.0
  }

  /** A twentieth of sf0.1. */
  val Docs = 250
  val Orders = 7350
  val Parts = 1000
  val Events = 5000
  val Users = 75
}
