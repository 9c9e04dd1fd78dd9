package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.core._
import graft.plans.FloatsFromPayload

/** Persisted ANN (IVF) index lifecycle over the engine's vector
  * payloads: build → store → reopen → probe, incremental refresh with
  * tombstoned overwrites, and the destructive-verb cascades
  * (erase / removeBefore filter the index in place; rollbackTo drops
  * the chain suffix). The oracle twin llm_ann_index_twin gates the
  * stored-≡-fresh probe equality at sf scale; this spec pins the
  * lifecycle corners DuckDB cannot express. */
class VectorIndexSpec extends SparkTestBase {

  private val Dim = 4
  // big slots/buckets so slot math never interferes: resolution 10,
  // bucket 1000, clock 11999 → hot window = buckets 11000/10000
  private def mkEngine(now: Long = 11999L, hot: Int = 12): (Engine, TestClock) = {
    val dir = Files.createTempDirectory("graft-vindex").toString
    val clock = new TestClock(now)
    val opts = EngineOptions(
      databaseName = "vdb", dataDir = dir,
      indexDepth = 1, payloadSize = 4 * Dim,
      bucketDuration = 1000L, resolution = 10L,
      maxHotBuckets = hot)
    (new Engine(spark, opts, clock), clock)
  }

  private def vec(xs: Float*): Array[Byte] = FloatsFromPayload.encode(xs)

  /** Two tight clusters far apart: ids a* near (1,0,0,0), b* near
    * (0,1,0,0) — k=2 k-means separates them in one iteration. */
  private def seed(e: Engine): Unit = {
    assert(e.put(Seq(
      Point(11000L, Seq("a0"), vec(1f, 0.1f, 0f, 0f)),
      Point(11000L, Seq("a1"), vec(0.9f, 0f, 0.1f, 0f)),
      Point(11000L, Seq("a2"), vec(1.1f, 0f, 0f, 0.1f)),
      Point(11000L, Seq("b0"), vec(0.1f, 1f, 0f, 0f)),
      Point(11000L, Seq("b1"), vec(0f, 0.9f, 0.1f, 0f)),
      Point(11000L, Seq("b2"), vec(0f, 1.1f, 0f, 0.1f)))) === Map("ok" -> 6L))
  }

  private def queries(qs: (Long, Seq[Float])*): DataFrame = {
    val rows = qs.map { case (id, v) => Row(id, v) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("qid", LongType),
        StructField("qv", ArrayType(FloatType, containsNull = false)))))
  }

  private def topTags(df: DataFrame): Seq[String] =
    df.orderBy(org.apache.spark.sql.functions.col("rk"))
      .collect().map(_.getAs[String]("tag0")).toSeq

  test("build → reopen-after-restart → annSearch serves from the stored index") {
    val (e, clock) = mkEngine()
    seed(e)
    val n = e.buildVectorIndex(k = 2, iters = 2)
    assert(n === 6L)
    assert(e.vectorIndexWatermark() === e.currentSeq())
    // REOPEN: a brand-new engine instance (fresh manifest check, no
    // in-memory state) must serve probes from what is on disk
    val reopened = new Engine(spark, e.opts, clock)
    val res = reopened.annSearch(queries(1L -> Seq(1f, 0f, 0f, 0f)), nprobe = 1, topk = 3)
    val tags = topTags(res)
    assert(tags.size === 3)
    assert(tags.toSet === Set("a0", "a1", "a2"),
      s"nprobe=1 on the a-cluster query must return only a-cluster members, got $tags")
    // centroids and inverted file are readable as operational views
    assert(reopened.vectorIndexCentroids().count() === 2L)
    assert(reopened.vectorIndexInverted().count() === 6L)
  }

  test("probing all cells ranks the exact cosine order across clusters") {
    val (e, _) = mkEngine()
    seed(e)
    e.buildVectorIndex(k = 2, iters = 2)
    val res = e.annSearch(queries(1L -> Seq(0f, 1f, 0f, 0f)), nprobe = 2, topk = 6)
    val tags = topTags(res)
    assert(tags.size === 6)
    assert(tags.take(3).toSet === Set("b0", "b1", "b2"),
      s"b-cluster must outrank a-cluster on a b query, got $tags")
  }

  test("annRecallReport: hand-computable recall at restricted nprobe, 100% when probing all") {
    val (e, _) = mkEngine()
    seed(e)
    e.buildVectorIndex(k = 2, iters = 2,
      pq = Some(PqParams(m = 2, k = 4, iters = 1)))
    // query on the a-cluster axis, topk=4: exact top-4 = a0,a1,a2 plus
    // b0 (the only b vector with positive cosine against (1,0,0,0)).
    // nprobe=1 probes only the a-cell → 3 of 4 recoverable (75%);
    // nprobe=2 probes both cells → brute-force set exactly (100%).
    val rep = e.annRecallReport(queries(1L -> Seq(1f, 0f, 0f, 0f)), topk = 4,
      settings = Seq((1, 0), (2, 0), (1, 10), (2, 10)))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(5), r.getLong(6), r.getDouble(7)))
    assert(rep.toSeq === Seq(
      ("ivf", 1, 0, 1L, 3L, 4L, 75.0),
      ("ivf", 2, 0, 1L, 4L, 4L, 100.0),
      ("rerank", 1, 10, 1L, 3L, 4L, 75.0),
      ("rerank", 2, 10, 1L, 4L, 4L, 100.0)))
  }

  test("annTuneNprobe: smallest nprobe meeting the recall target, all-cells for 100%") {
    val (e, _) = mkEngine()
    seed(e)
    e.buildVectorIndex(k = 2, iters = 2,
      pq = Some(PqParams(m = 2, k = 4, iters = 1)))
    val q = queries(1L -> Seq(1f, 0f, 0f, 0f))
    // recall(nprobe=1) = 75% on this corpus (see annRecallReport test):
    // a 70% target is met by the single-cell probe, 100% needs both
    assert(e.annTuneNprobe(q, topk = 4, targetRecallPct = 70.0) === 1)
    assert(e.annTuneNprobe(q, topk = 4, targetRecallPct = 100.0) === 2)
    // rerank tier tunes the same way at a corpus-covering shortlist
    assert(e.annTuneNprobe(q, topk = 4, targetRecallPct = 100.0, shortlist = 10) === 2)
  }

  test("staleness + refresh: new puts invisible until refreshVectorIndex folds them") {
    val (e, _) = mkEngine()
    seed(e)
    e.buildVectorIndex(k = 2, iters = 2)
    val wm0 = e.vectorIndexWatermark()
    e.put(Seq(Point(11010L, Seq("a3"), vec(1f, 0f, 0f, 0f))))
    assert(e.currentSeq() > wm0, "put must advance past the index watermark")
    assert(e.vectorIndexWatermark() === wm0, "index watermark must not move on put")
    val stale = topTags(e.annSearch(queries(1L -> Seq(1f, 0f, 0f, 0f)), 1, 6))
    assert(!stale.contains("a3"), "unrefreshed index must not see the new vector")
    assert(e.refreshVectorIndex() === 1L)
    assert(e.vectorIndexWatermark() === e.currentSeq())
    val fresh = topTags(e.annSearch(queries(1L -> Seq(1f, 0f, 0f, 0f)), 1, 6))
    assert(fresh.contains("a3"), "refreshed index must serve the new vector")
    assert(e.refreshVectorIndex() === 0L, "refresh is idempotent at the watermark")
  }

  test("tombstones: an overwritten vector's stale version never serves — even cross-cell") {
    val (e, _) = mkEngine()
    seed(e)
    e.buildVectorIndex(k = 2, iters = 2)
    // overwrite a0 (same series+slot) with a vector in the OTHER
    // cluster: the new version lands in the b cell, the stale one
    // stays in the a cell — exactly the cross-cell shadowing case
    e.put(Seq(Point(11000L, Seq("a0"), vec(0f, 1f, 0f, 0f))))
    assert(e.refreshVectorIndex() === 1L)
    val aSide = topTags(e.annSearch(queries(1L -> Seq(1f, 0f, 0f, 0f)), 1, 6))
    assert(!aSide.contains("a0"),
      s"stale a-cell version of the overwritten key must be tombstoned, got $aSide")
    val bSide = topTags(e.annSearch(queries(1L -> Seq(0f, 1f, 0f, 0f)), 1, 6))
    assert(bSide.contains("a0"), s"the overwritten key must serve its NEW vector, got $bSide")
  }

  test("erase cascades: the erased series vanishes from the stored index") {
    val (e, _) = mkEngine()
    seed(e)
    e.buildVectorIndex(k = 2, iters = 2)
    e.erase(Seq("a1"))
    val res = topTags(e.annSearch(queries(1L -> Seq(1f, 0f, 0f, 0f)), 2, 6))
    assert(!res.contains("a1"), s"erased series must not serve from the index, got $res")
    assert(res.size === 5)
    assert(e.vectorIndexInverted()
      .filter(org.apache.spark.sql.functions.col("tag0") === "a1").isEmpty)
  }

  test("rollbackTo cascades: suffix deltas drop, the watermark retreats, refresh re-folds") {
    val (e, _) = mkEngine()
    seed(e)
    e.buildVectorIndex(k = 2, iters = 2)
    val wm0 = e.vectorIndexWatermark()
    e.put(Seq(Point(11010L, Seq("a3"), vec(1f, 0f, 0f, 0f))))
    e.refreshVectorIndex()
    e.rollbackTo(wm0)
    assert(e.vectorIndexWatermark() === wm0,
      "rollback must drop the refresh delta and retreat the index watermark")
    val res = topTags(e.annSearch(queries(1L -> Seq(1f, 0f, 0f, 0f)), 1, 6))
    assert(!res.contains("a3"), "rolled-back vector must not serve")
    assert(e.refreshVectorIndex() === 0L, "nothing above the watermark after rollback")
  }

  test("removeBefore cascades: retention-dropped slots leave the index") {
    val (e, clock) = mkEngine(now = 14999L, hot = 2)
    // two buckets: olds at bucket 12000 (cold), news at 14000 (hot)
    e.put(Seq(
      Point(12000L, Seq("old0"), vec(1f, 0f, 0f, 0f)),
      Point(12010L, Seq("old1"), vec(0.9f, 0.1f, 0f, 0f)),
      Point(14000L, Seq("new0"), vec(0f, 1f, 0f, 0f)),
      Point(14010L, Seq("new1"), vec(0.1f, 0.9f, 0f, 0f))))
    e.buildVectorIndex(k = 2, iters = 2)
    e.removeBefore(13000L)
    val res = topTags(e.annSearch(queries(1L -> Seq(1f, 0f, 0f, 0f)), 2, 6))
    assert(res.toSet === Set("new0", "new1"),
      s"retention-dropped vectors must leave the index, got $res")
  }

  test("removeBefore cascade is BUCKET-granular: boundary-bucket rows above ts leave too") {
    // retention drops whole bucket dirs with baseTS < ts — a row at
    // slot 12600 inside bucket 12000 is deleted by removeBefore(12500)
    // even though 12600 >= 12500, and it must leave the index with its
    // bucket (it sits below the index watermark, so no refresh would
    // ever correct a stale serve here)
    val (e, _) = mkEngine(now = 14999L, hot = 2)
    e.put(Seq(
      Point(12000L, Seq("doomed_lo"), vec(1f, 0f, 0f, 0f)),
      Point(12600L, Seq("doomed_hi"), vec(0.9f, 0.1f, 0f, 0f)),
      Point(14000L, Seq("kept"), vec(1.1f, 0f, 0f, 0f))))
    e.buildVectorIndex(k = 1, iters = 1)
    e.removeBefore(12500L)
    // the table itself dropped the whole 12000 bucket
    assert(e.find(12000L, 13000L, Seq("")).count() === 0L)
    val res = topTags(e.annSearch(queries(1L -> Seq(1f, 0f, 0f, 0f)), 1, 6))
    assert(res === Seq("kept"),
      s"boundary-bucket rows at-or-above ts must leave the index with their bucket, got $res")
  }

  test("fail-closed corners: no index, empty table, wrong payload size, rebuild replaces") {
    val (e, _) = mkEngine()
    intercept[IllegalArgumentException](e.buildVectorIndex(2, 1)) // empty table
    seed(e)
    intercept[IllegalStateException](e.annSearch(queries(1L -> Seq(1f, 0f, 0f, 0f)), 1, 1))
    intercept[IllegalStateException](e.refreshVectorIndex())
    e.buildVectorIndex(k = 2, iters = 1)
    // rebuild replaces wholesale (tombstones + deltas reset)
    e.put(Seq(Point(11010L, Seq("c0"), vec(0f, 0f, 1f, 0f))))
    val n = e.buildVectorIndex(k = 3, iters = 1)
    assert(n === 7L)
    assert(e.vectorIndexWatermark() === e.currentSeq())
    // dropVectorIndex: loud absence afterwards
    e.dropVectorIndex()
    intercept[IllegalStateException](e.annSearch(queries(1L -> Seq(1f, 0f, 0f, 0f)), 1, 1))
  }

  test("PQ tier: build with codebooks → reopen → annSearchAdc ranks by reconstruction distance") {
    val (e, clock) = mkEngine()
    seed(e)
    e.buildVectorIndex(k = 2, iters = 2, pq = Some(PqParams(m = 2, k = 4, iters = 1)))
    val reopened = new Engine(spark, e.opts, clock)
    assert(reopened.vectorIndexPqBooks().count() === 8L) // 2 subs × 4 codes
    val res = reopened.annSearchAdc(queries(1L -> Seq(1f, 0f, 0f, 0f)), nprobe = 1, topk = 3)
    val tags = topTags(res)
    assert(tags.size === 3)
    assert(tags.toSet === Set("a0", "a1", "a2"),
      s"nprobe=1 ADC on the a-cluster query must return only a-cluster members, got $tags")
  }

  test("PQ tier: the ADC probe scan reads codes, never the exact vectors (column pruning)") {
    val (e, _) = mkEngine()
    seed(e)
    e.buildVectorIndex(k = 2, iters = 2, pq = Some(PqParams(m = 2, k = 4, iters = 1)))
    val plan = e.annSearchAdc(queries(1L -> Seq(1f, 0f, 0f, 0f)), 1, 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("codes"), "ADC scan must read the code column")
    // the inverted-file FileScan's ReadSchema must not materialize the
    // float vectors — that pruning IS the 32× byte win of the PQ tier
    val scanLines = plan.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("codes")).toSeq
    assert(scanLines.nonEmpty, "expected a parquet scan of the code column")
    assert(!scanLines.exists(_.contains("vec:")),
      s"ADC scan must prune the vec column:\n${scanLines.mkString("\n")}")
  }

  test("probe plans carry no qid-partitioned Window (r14: k-bounded TopK aggregation)") {
    // the VERDICT r13 #2 done-criterion: a query's probed-cell
    // population must never funnel through one window task — the
    // per-query top-k is a map-side-combining aggregate, and the
    // nprobe cell selection a per-row argmin, in EVERY probe tier
    val (e, _) = mkEngine()
    seed(e)
    e.buildVectorIndex(k = 2, iters = 2, pq = Some(PqParams(m = 2, k = 4, iters = 1)))
    val q = queries(1L -> Seq(1f, 0f, 0f, 0f))
    for ((name, df) <- Seq(
      "annSearch" -> e.annSearch(q, 2, 3),
      "annSearchAdc" -> e.annSearchAdc(q, 2, 3),
      "annSearchRerank" -> e.annSearchRerank(q, 2, 3, 4))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"$name plan must contain no Window operator:\n$plan")
      assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
        s"$name plan must rank via the typed TopK aggregate:\n$plan")
    }
  }

  test("PQ tier: refresh encodes new vectors against the STORED books; tombstones apply to ADC") {
    val (e, _) = mkEngine()
    seed(e)
    e.buildVectorIndex(k = 2, iters = 2, pq = Some(PqParams(m = 2, k = 4, iters = 1)))
    e.put(Seq(Point(11010L, Seq("a3"), vec(1f, 0f, 0f, 0f))))
    assert(e.refreshVectorIndex() === 1L)
    import org.apache.spark.sql.functions.col
    val newRow = e.vectorIndexInverted().filter(col("tag0") === "a3")
    assert(newRow.count() === 1L)
    assert(newRow.head().getAs[Seq[Long]]("codes").size === 2,
      "refresh must attach m codes from the stored codebooks")
    val adc = topTags(e.annSearchAdc(queries(1L -> Seq(1f, 0f, 0f, 0f)), 1, 7))
    assert(adc.contains("a3"), "ADC must serve the refreshed vector")
    // overwrite a0 into the other cluster: its stale a-cell codes must
    // never serve from the ADC path either
    e.put(Seq(Point(11000L, Seq("a0"), vec(0f, 1f, 0f, 0f))))
    e.refreshVectorIndex()
    val aSide = topTags(e.annSearchAdc(queries(1L -> Seq(1f, 0f, 0f, 0f)), 1, 7))
    assert(!aSide.contains("a0"), s"tombstoned version must not serve via ADC, got $aSide")
  }

  test("PQ tier: absent tier fails loudly; manifest with partial pq keys is corrupt") {
    val (e, _) = mkEngine()
    seed(e)
    e.buildVectorIndex(k = 2, iters = 1) // no PQ
    intercept[IllegalStateException](
      e.annSearchAdc(queries(1L -> Seq(1f, 0f, 0f, 0f)), 1, 1))
    intercept[IllegalStateException](e.vectorIndexPqBooks())
    // annSearch (exact tier) still works on a PQ-less index
    assert(topTags(e.annSearch(queries(1L -> Seq(1f, 0f, 0f, 0f)), 2, 6)).size === 6)
  }

  test("compactVectorIndex folds the chain + tombstones; probe results invariant") {
    val (e, _) = mkEngine()
    seed(e)
    e.buildVectorIndex(k = 2, iters = 2, pq = Some(PqParams(m = 2, k = 4, iters = 1)))
    e.put(Seq(Point(11010L, Seq("a3"), vec(1f, 0f, 0f, 0f))))
    e.refreshVectorIndex()
    // cross-cluster overwrite → a tombstone dir exists
    e.put(Seq(Point(11000L, Seq("a0"), vec(0f, 1f, 0f, 0f))))
    e.refreshVectorIndex()
    def dirs(prefix: String): Seq[String] = {
      val root = new java.io.File(s"${e.opts.tablePath}_vecindex")
      root.listFiles().map(_.getName).filter(_.startsWith(prefix)).toSeq
    }
    assert(dirs("delta=").size === 3 && dirs("tomb=").size === 1)
    val qs = queries(1L -> Seq(1f, 0f, 0f, 0f), 2L -> Seq(0f, 1f, 0f, 0f))
    def snap(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, String)] =
      df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rk"),
        r.getAs[String]("tag0"))).toSeq.sorted
    val exactBefore = snap(e.annSearch(qs, 2, 7))
    val adcBefore = snap(e.annSearchAdc(qs, 2, 7))
    assert(e.compactVectorIndex() === 3)
    assert(dirs("delta=").size === 1 && dirs("tomb=").isEmpty,
      s"expected one folded delta and no tombstones, got ${dirs("delta=")} ${dirs("tomb=")}")
    assert(snap(e.annSearch(qs, 2, 7)) === exactBefore,
      "exact-tier results must be invariant under index compaction")
    assert(snap(e.annSearchAdc(qs, 2, 7)) === adcBefore,
      "ADC-tier results must be invariant under index compaction")
    // still refreshable after compaction (chain origin preserved)
    e.put(Seq(Point(11020L, Seq("b3"), vec(0f, 1f, 0f, 0f))))
    assert(e.refreshVectorIndex() === 1L)
    assert(topTags(e.annSearch(queries(1L -> Seq(0f, 1f, 0f, 0f)), 1, 7)).contains("b3"))
    assert(e.compactVectorIndex() === 2)
  }

  test("refresh without overwrites publishes NO tombstone dir") {
    val (e, _) = mkEngine()
    seed(e)
    e.buildVectorIndex(k = 2, iters = 1)
    e.put(Seq(Point(11010L, Seq("a3"), vec(1f, 0f, 0f, 0f))))
    e.refreshVectorIndex()
    val root = new java.io.File(s"${e.opts.tablePath}_vecindex")
    assert(!root.listFiles().map(_.getName).exists(_.startsWith("tomb=")),
      "a clean epoch must not leave an empty tombstone dir behind")
  }

  test("annSearchRerank: exhaustive shortlist equals annSearch bit-for-bit; small shortlist still fills topk") {
    val (e, _) = mkEngine()
    seed(e)
    e.buildVectorIndex(k = 2, iters = 2, pq = Some(PqParams(m = 2, k = 4, iters = 1)))
    val q = queries(1L -> Seq(1f, 0f, 0f, 0f), 2L -> Seq(0f, 1f, 0f, 0f))
    val rr = e.annSearchRerank(q, nprobe = 2, topk = 3, shortlist = 100)
    val ex = e.annSearch(q, nprobe = 2, topk = 3)
    assert(rr.exceptAll(ex).isEmpty && ex.exceptAll(rr).isEmpty,
      "a shortlist covering the probed cells must reproduce annSearch exactly")
    val small = e.annSearchRerank(q, nprobe = 2, topk = 2, shortlist = 2)
    assert(small.groupBy("qid").count().collect().forall(_.getLong(1) === 2L),
      "topk rows must come back even from a minimal shortlist")
    intercept[IllegalArgumentException](e.annSearchRerank(q, 2, 5, 3))
  }

  test("annSearchRerank stage-2 fetch is pruned: slot range pushed, codes never read, no literal In list") {
    val (e, _) = mkEngine()
    seed(e)
    e.buildVectorIndex(k = 2, iters = 2, pq = Some(PqParams(m = 2, k = 4, iters = 1)))
    val plan = e.annSearchRerank(queries(1L -> Seq(1f, 0f, 0f, 0f)),
        nprobe = 1, topk = 2, shortlist = 3)
      .queryExecution.executedPlan.toString
    // the exact-vector fetch must be a parquet scan that (a) reads vec
    // but NOT codes (the inverse pruning of the ADC stage), (b) pushes
    // the shortlist's [min, max] slot_ns RANGE (two literals — the r14
    // replacement for the per-slot In list, whose |q|·shortlist
    // literals bloat codegen at serving batch sizes), and (c) selects
    // the precise shortlisted rows via a BROADCAST left-semi join, so
    // the bounded key set does the selection executor-side
    val fetch = plan.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("vec#")).toSeq
    assert(fetch.nonEmpty, s"expected an exact-vector parquet scan:\n$plan")
    assert(!fetch.exists(_.contains("codes:")),
      s"stage-2 fetch must prune the code column:\n${fetch.mkString("\n")}")
    assert(fetch.exists(l => l.contains("GreaterThanOrEqual(slot_ns") &&
      l.contains("LessThanOrEqual(slot_ns")),
      s"the shortlist slot RANGE must reach the scan pushed:\n${fetch.mkString("\n")}")
    assert(!fetch.exists(_.contains("In(slot_ns")),
      s"no per-slot literal In list may reach the scan (r14 contract):\n${fetch.mkString("\n")}")
    assert(plan.contains("LeftSemi"),
      s"the shortlist key set must select rows via a left-semi join:\n$plan")
  }

  test("refresh tombstones survive compactBucket dropping the superseded table row") {
    // the round-12 blind spot: prior-existence used to come from the
    // raw table (seq <= wm), which compactBucket LWW-folds away —
    // put v1 → build → put v2 → compactBucket → refresh then served
    // the stale v1 from its old cell forever. The lookup now reads
    // the stored cover, which compaction of the TABLE cannot touch.
    val (e, _) = mkEngine()
    seed(e)
    e.buildVectorIndex(k = 2, iters = 2)
    e.put(Seq(Point(11000L, Seq("a0"), vec(0f, 1f, 0f, 0f)))) // cross-cell overwrite
    e.compactBucket(11000L) // LWW-drops the superseded v1 row from the table
    assert(e.refreshVectorIndex() === 1L)
    val aSide = topTags(e.annSearch(queries(1L -> Seq(1f, 0f, 0f, 0f)), 1, 6))
    assert(!aSide.contains("a0"),
      s"stale version must be tombstoned even after table compaction, got $aSide")
    val bSide = topTags(e.annSearch(queries(1L -> Seq(0f, 1f, 0f, 0f)), 1, 6))
    assert(bSide.contains("a0"), s"the new vector must serve, got $bSide")
  }

  test("vectorIndexInverted resolves cross-epoch overwrites — one row per live key") {
    val (e, _) = mkEngine()
    seed(e)
    e.buildVectorIndex(k = 2, iters = 2)
    e.put(Seq(Point(11000L, Seq("a0"), vec(0f, 1f, 0f, 0f))))
    e.refreshVectorIndex()
    val inv = e.vectorIndexInverted()
    assert(inv.count() === 6L,
      "raw cover holds 7 rows after the overwrite; the view must tombstone-resolve to 6")
    assert(inv.filter(org.apache.spark.sql.functions.col("tag0") === "a0").count() === 1L)
  }

  test("vectorIndexStats: live per-cell population + integer qerr; cascades reflected") {
    val (e, _) = mkEngine()
    seed(e)
    e.buildVectorIndex(k = 2, iters = 2)
    val st0 = e.vectorIndexStats().collect()
    assert(st0.length === 2)
    assert(st0.map(_.getAs[Long]("n_rows")).sum === 6L)
    assert(st0.forall(_.getAs[Long]("qerr_sum_1e6") >= 0L))
    // cross-cell overwrite: the report counts LIVE rows only
    e.put(Seq(Point(11000L, Seq("a0"), vec(0f, 1f, 0f, 0f))))
    e.refreshVectorIndex()
    assert(e.vectorIndexStats().collect().map(_.getAs[Long]("n_rows")).sum === 6L,
      "an overwritten key must not double-count in the health report")
    e.erase(Seq("b0"))
    assert(e.vectorIndexStats().collect().map(_.getAs[Long]("n_rows")).sum === 5L,
      "destructive cascades must be visible to the health report")
  }

  test("compactVectorIndex on an empty delta cover fails loudly, before any sweep") {
    val (e, _) = mkEngine()
    seed(e)
    e.buildVectorIndex(k = 2, iters = 1)
    val root = new java.io.File(s"${e.opts.tablePath}_vecindex")
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete()
    }
    root.listFiles().filter(_.getName.startsWith("delta=")).foreach(rmTree)
    val ex = intercept[IllegalStateException](e.compactVectorIndex())
    assert(ex.getMessage.contains("no deltas"), ex.getMessage)
  }

  test("a hole in the delta chain: monitoring reports the valid prefix, probes fail naming the index and seq") {
    val (e, _) = mkEngine()
    seed(e)
    e.buildVectorIndex(k = 2, iters = 1)
    val wm0 = e.vectorIndexWatermark()
    e.put(Seq(Point(11010L, Seq("a3"), vec(1f, 0f, 0f, 0f))))
    e.refreshVectorIndex()
    e.put(Seq(Point(11020L, Seq("b3"), vec(0f, 1f, 0f, 0f))))
    e.refreshVectorIndex()
    val root = new org.apache.hadoop.fs.Path(s"${e.opts.tablePath}_vecindex")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val middle = fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith(s"delta=${wm0}_")).head
    // the crash window of a cascade swap: the middle delta sits in trash
    assert(fs.rename(middle, Publish.trashPath(middle)))
    assert(e.vectorIndexWatermark() === wm0)
    assert(e.vectorIndexCoverSize() === 1)
    val ex = intercept[IllegalStateException](
      e.annSearch(queries(1L -> Seq(1f, 0f, 0f, 0f)), 1, 3))
    assert(ex.getMessage.contains("vector index") && ex.getMessage.contains(s"at seq $wm0"),
      ex.getMessage)
  }

  test("compactVectorIndex over one delta and a crash's leftover tombstone keeps the delta") {
    val (e, _) = mkEngine()
    seed(e)
    e.buildVectorIndex(k = 2, iters = 1)
    e.put(Seq(Point(11000L, Seq("a0"), vec(0f, 1f, 0f, 0f)))) // cross-cell overwrite
    e.refreshVectorIndex()
    val root = new org.apache.hadoop.fs.Path(s"${e.opts.tablePath}_vecindex")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    def dirs(prefix: String) =
      fs.listStatus(root).map(_.getPath).filter(_.getName.startsWith(prefix)).toSeq
    val tomb = dirs("tomb=").head
    val stash = new org.apache.hadoop.fs.Path(root, ".stash")
    org.apache.hadoop.fs.FileUtil.copy(fs, tomb, fs, stash, false, conf)
    val q = queries(1L -> Seq(0f, 1f, 0f, 0f))
    val before = topTags(e.annSearch(q, 2, 6))
    assert(e.compactVectorIndex() === 2)
    // a crash between the merged publish and the tombstone deletes
    assert(fs.rename(stash, tomb))
    assert(e.compactVectorIndex() === 1)
    assert(dirs("delta=").size === 1 && dirs("tomb=").isEmpty)
    assert(topTags(e.annSearch(q, 2, 6)) === before)
  }

  test("floats_from_payload round-trips encode bit-exactly and rejects misaligned payloads") {
    val xs = Seq(1.5f, -0.25f, Float.MinPositiveValue, 3.4e38f)
    val decoded = FloatsFromPayload.decode(FloatsFromPayload.encode(xs))
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toFloatArray().toSeq
    assert(decoded === xs)
    assert(FloatsFromPayload.decode(Array[Byte](1, 2, 3)) === null)
    assert(FloatsFromPayload.decode(Array.emptyByteArray) === null)
    // codegen path (via the session extension) agrees with the
    // interpreted twin, zero payload decodes to the zero vector
    import spark.implicits._
    val df = Seq(FloatsFromPayload.encode(xs), new Array[Byte](16), Array[Byte](9))
      .toDF("p")
      .selectExpr("floats_from_payload(p) AS v")
    val got = df.collect().map(r =>
      Option(r.getSeq[Float](0)).map(_.toSeq))
    assert(got(0) === Some(xs))
    assert(got(1) === Some(Seq(0f, 0f, 0f, 0f)))
    assert(got(2) === None)
  }
}
