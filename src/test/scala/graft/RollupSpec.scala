package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import graft.core._

/** Continuous aggregate (Engine.refreshRollup / rollup /
  * compactRollup): exactly-once incremental folding via seq-range
  * delta names, merge-on-read partial aggregation, LWW-exact `last`,
  * crash-leftover resolution by the greedy interval cover, and the
  * rollup options guard. */
class RollupSpec extends SparkTestBase {

  private val T = Seq("cpu", "host1")

  private def mkEngine(now: Long = 11999L): (Engine, TestClock) = {
    val dir = Files.createTempDirectory("graft-rollup").toString
    val opts = EngineOptions(
      databaseName = "testdb", dataDir = dir,
      indexDepth = 2, payloadSize = 8,
      bucketDuration = 1000L, resolution = 10L)
    val clock = new TestClock(now)
    (new Engine(spark, opts, clock), clock)
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(2), r.getLong(3), r.getDouble(4),
      r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getDouble(8)))
      .toSeq // (rslot, cnt, vsum, vmin, vmax, last_val, vavg)

  test("refresh folds new writes into partials; rollup merges to exact aggregates") {
    val (e, _) = mkEngine()
    e.putDoubles(Seq(
      (11000L, T, 1.0), (11010L, T, 2.0), (11020L, T, 3.0), // rslot 11000
      (11100L, T, 10.0)))                                   // rslot 11100
    assert(e.refreshRollup(100L) === 2L) // two partial rows
    val got = rows(e.rollup(11000L, 11200L, T, 100L))
    assert(got === Seq(
      (11000L, 3L, 6.0, 1.0, 3.0, 3.0, 2.0),
      (11100L, 1L, 10.0, 10.0, 10.0, 10.0, 10.0)))
  }

  test("incremental: a second refresh folds ONLY the new writes; last_val stays LWW-exact") {
    val (e, _) = mkEngine()
    e.putDoubles(Seq((11000L, T, 1.0), (11010L, T, 2.0), (11020L, T, 3.0)))
    e.refreshRollup(100L)
    // new slot + an LWW overwrite of slot 11000, both in rslot 11000;
    // the overwrite (5.0) carries the highest seq
    e.putDoubles(Seq((11030L, T, 4.0), (11000L, T, 5.0)))
    assert(e.refreshRollup(100L) === 1L) // one partial row, only the delta
    val got = rows(e.rollup(11000L, 11100L, T, 100L))
    // observation semantics: 5 writes; last = the max-seq write = 5.0
    assert(got === Seq((11000L, 5L, 15.0, 1.0, 5.0, 5.0, 3.0)))
    // and refresh with nothing new is a no-op
    assert(e.refreshRollup(100L) === 0L)
  }

  test("wildcard rollup returns every matching series, ordered") {
    val (e, _) = mkEngine()
    val t2 = Seq("cpu", "host2")
    e.putDoubles(Seq((11000L, T, 1.0), (11000L, t2, 7.0)))
    e.refreshRollup(100L)
    val got = e.rollup(11000L, 11100L, Seq("cpu", ""), 100L).collect()
    assert(got.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("cpu", "host1"), ("cpu", "host2")))
    // and an exact-tag query prunes to one series
    assert(e.rollup(11000L, 11100L, t2, 100L).count() === 1L)
  }

  test("compactRollup folds the delta chain; results identical; re-run is a no-op") {
    val (e, _) = mkEngine()
    e.putDoubles(Seq((11000L, T, 1.0), (11010L, T, 2.0)))
    e.refreshRollup(100L)
    e.putDoubles(Seq((11020L, T, 3.0)))
    e.refreshRollup(100L)
    val before = rows(e.rollup(11000L, 11100L, T, 100L))
    assert(e.compactRollup() === 2)
    val after = rows(e.rollup(11000L, 11100L, T, 100L))
    assert(before === after)
    assert(e.compactRollup() === 0) // single delta: nothing to fold
  }

  test("a crashed compaction's overlap is never double-counted and is swept on the next pass") {
    val (e, _) = mkEngine()
    e.putDoubles(Seq((11000L, T, 1.0)))
    e.refreshRollup(100L)
    e.putDoubles(Seq((11010L, T, 2.0)))
    e.refreshRollup(100L)
    val fs = FileSystem.get(new java.net.URI(e.opts.dataDir),
      spark.sparkContext.hadoopConfiguration)
    val root = new Path(s"${e.opts.tablePath}_rollup")
    val deltas = fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("delta=")).sortBy(_.getName)
    // stash one original, compact, then restore it — exactly the state
    // a crash between publish and delete leaves behind
    val stash = new Path(root, ".stash")
    FileUtil.copy(fs, deltas.head, fs, stash, false,
      spark.sparkContext.hadoopConfiguration)
    e.compactRollup()
    assert(fs.rename(stash, deltas.head))
    val got = rows(e.rollup(11000L, 11100L, T, 100L))
    assert(got === Seq((11000L, 2L, 3.0, 1.0, 2.0, 2.0, 1.5)),
      "the merged delta must win the cover; the leftover must not double-count")
    // next compaction sweeps the covered leftover even with one cover delta
    e.compactRollup()
    val left = fs.listStatus(root).map(_.getPath.getName)
      .count(_.startsWith("delta="))
    assert(left === 1)
  }

  test("rollupRemoveBefore drops aggregate buckets on its own horizon; chain stays intact") {
    val (e, clock) = mkEngine() // now 11999: hot = buckets 11000, 10000
    e.putDoubles(Seq((10000L, T, 1.0), (11000L, T, 2.0)))
    e.refreshRollup(100L)
    assert(e.rollup(10000L, 11100L, T, 100L).count() === 2L)
    // hot-window guard: the rollup of a bucket still accepting writes
    // must not vanish
    intercept[IllegalArgumentException](e.rollupRemoveBefore(10500L))
    // time passes; the aggregate horizon can now drop bucket 10000
    // while the RAW table keeps it — independent retention knobs
    clock.goto(13999L)
    e.rollupRemoveBefore(11000L)
    val got = rows(e.rollup(10000L, 11100L, T, 100L))
    assert(got === Seq((11000L, 1L, 2.0, 2.0, 2.0, 2.0, 2.0)))
    // the raw path still serves the dropped bucket's points
    assert(e.getDoubles(10000L, 10010L, T).collect()(0).getDouble(2) === 1.0)
    // the delta chain is still a valid cover and a later refresh works
    e.putDoubles(Seq((13000L, T, 9.0)))
    assert(e.refreshRollup(100L) === 1L)
  }

  test("property: rollup output is invariant to how writes are split across refreshes") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val params = Gen.Parameters.default.withSize(12)
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(params, Seed(seed)).getOrElse(sys.error("gen failed"))
    val genPt: Gen[(Long, Double)] = for {
      ts <- Gen.choose(10000L, 11990L)
      v <- Gen.choose(-100, 100).map(_ / 4.0) // binary-exact quarters
    } yield (ts, v)
    for (seed <- 1 to 3) {
      val pts = sample(Gen.nonEmptyListOf(genPt), seed.toLong)
      val cut = sample(Gen.choose(0, pts.size), seed + 100L)
      // engine A: every write folded in ONE refresh
      val (a, _) = mkEngine()
      a.putDoubles(pts.map { case (ts, v) => (ts, T, v) })
      a.refreshRollup(100L)
      // engine B: same writes in the same order, split into two
      // refresh rounds at a random cut (plus a possibly-empty side)
      val (b, _) = mkEngine()
      val (p1, p2) = pts.splitAt(cut)
      if (p1.nonEmpty) { b.putDoubles(p1.map { case (ts, v) => (ts, T, v) }); b.refreshRollup(100L) }
      if (p2.nonEmpty) { b.putDoubles(p2.map { case (ts, v) => (ts, T, v) }); b.refreshRollup(100L) }
      assert(rows(a.rollup(10000L, 12000L, T, 100L)) ===
        rows(b.rollup(10000L, 12000L, T, 100L)),
        s"seed=$seed cut=$cut: split refreshes must merge to the single-refresh result")
    }
  }

  /** Explicit-seq put of (ts, value, seq) points of series T. */
  private def putSeqs(e: Engine, pts: (Long, Double, Long)*): Unit = {
    val rows = pts.map { case (ts, v, sq) =>
      org.apache.spark.sql.Row(ts, T, java.nio.ByteBuffer.allocate(8).putDouble(v).array(), sq)
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "ts BIGINT, tags ARRAY<STRING>, payload BINARY, seq BIGINT")
    assert(e.put(spark.createDataFrame(spark.sparkContext.parallelize(rows), schema))
      === Map("ok" -> pts.size.toLong))
  }

  /** The rollup's delta dirs as (name, lo, hi), in chain order. */
  private def deltas(e: Engine): Seq[(java.io.File, Long, Long)] =
    new java.io.File(s"${e.opts.tablePath}_rollup").listFiles().toSeq
      .filter(_.getName.startsWith("delta="))
      .map { d =>
        val Array(lo, hi) = d.getName.stripPrefix("delta=").split("_")
        (d, lo.toLong, hi.toLong)
      }.sortBy(_._2)

  test("each delta is named by the highest seq it holds; the chain stays contiguous") {
    val (e, _) = mkEngine()
    putSeqs(e, (11000L, 1.0, 5L), (11010L, 2.0, 9L))
    assert(e.refreshRollup(100L) === 1L)
    putSeqs(e, (11100L, 3.0, 20L), (11000L, 4.0, 14L)) // out of order, gaps
    assert(e.refreshRollup(100L) === 2L)
    putSeqs(e, (11200L, 5.0, 40L), (11210L, 6.0, 31L))
    assert(e.refreshRollup(100L) === 1L)
    val ds = deltas(e)
    assert(ds.map { case (_, lo, hi) => (lo, hi) } === Seq((-1L, 9L), (9L, 20L), (20L, 40L)))
    ds.foreach { case (d, _, hi) =>
      val stored = spark.read.parquet(d.getPath).agg(
        org.apache.spark.sql.functions.max("last_seq")).head().getLong(0)
      assert(stored === hi, s"${d.getName} holds seqs up to $stored")
    }
    assert(rows(e.rollup(11000L, 11300L, T, 100L)) === Seq(
      (11000L, 3L, 7.0, 1.0, 4.0, 4.0, 7.0 / 3),
      (11100L, 1L, 3.0, 3.0, 3.0, 3.0, 3.0),
      (11200L, 2L, 11.0, 5.0, 6.0, 5.0, 5.5)))
  }

  test("a refresh with nothing new returns 0 and leaves the rollup byte-for-byte unchanged") {
    val (e, _) = mkEngine()
    e.putDoubles(Seq((11000L, T, 1.0), (11110L, T, 2.0)))
    assert(e.refreshRollup(100L) === 2L)
    val root = java.nio.file.Paths.get(s"${e.opts.tablePath}_rollup")
    def snapshot(): Map[String, Seq[Byte]] = {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(p =>
        root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
      finally st.close()
    }
    def entries(): Seq[String] = {
      val st = Files.walk(root)
      try st.iterator().asScala.map(root.relativize(_).toString).toList.sorted
      finally st.close()
    }
    val (files, names) = (snapshot(), entries())
    assert(e.refreshRollup(100L) === 0L)
    assert(entries() === names)
    assert(snapshot() === files)
  }

  test("rollup resolution is a guarded layout property of the rollup table") {
    val (e, _) = mkEngine()
    e.putDoubles(Seq((11000L, T, 1.0)))
    e.refreshRollup(100L)
    val err = intercept[IllegalArgumentException](e.refreshRollup(50L))
    assert(err.getMessage.contains("rollupResolution"))
    val err2 = intercept[IllegalArgumentException](e.rollup(11000L, 11100L, T, 50L))
    assert(err2.getMessage.contains("rollupResolution"))
    // querying before any refresh exists fails loudly, not empty
    val (e2, _) = mkEngine()
    intercept[IllegalStateException](e2.rollup(11000L, 11100L, T, 100L))
  }
}
