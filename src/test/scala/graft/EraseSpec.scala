package graft

import java.nio.file.Files
import graft.core._

/** Right-to-erasure (Engine.erase): per-series hard deletion across
  * hot AND cold buckets with wildcard tag patterns, survivor
  * preservation (raw seq history intact), empty-bucket partition
  * removal, cascade into continuous-aggregate deltas with the
  * seq-range watermark chain preserved, idempotence, and the
  * all-wildcard / manifest guards. Beyond the reference: kdb only
  * drops whole buckets (dbase/dbase.go:323-364). */
class EraseSpec extends SparkTestBase {

  private val U1 = Seq("cpu", "user1")
  private val U2 = Seq("cpu", "user2")
  private val M1 = Seq("mem", "user1")

  private def mkEngine(now: Long = 11999L): (Engine, TestClock) = {
    val dir = Files.createTempDirectory("graft-erase").toString
    val opts = EngineOptions(
      databaseName = "testdb", dataDir = dir,
      indexDepth = 2, payloadSize = 8,
      bucketDuration = 1000L, resolution = 10L)
    val clock = new TestClock(now)
    (new Engine(spark, opts, clock), clock)
  }

  private def vals(df: org.apache.spark.sql.DataFrame): Seq[Double] =
    df.collect().map(_.getAs[Double]("value")).toSeq

  test("erase removes one series from hot and cold buckets; survivors and history intact") {
    val (e, clock) = mkEngine(now = 9999L)
    // write bucket 9000 while hot, then advance the clock so it goes
    // cold — erasure must reach it anyway (the one path that does)
    e.putDoubles(Seq((9000L, U1, 1.0), (9010L, U2, 2.0)))
    clock.goto(11999L)
    e.putDoubles(Seq(
      (10000L, U1, 3.0), (10010L, U2, 4.0),
      (11000L, U1, 5.0), (11000L, U2, 6.0),
      (11000L, U2, 7.0))) // LWW overwrite for U2 — history must survive
    val (buckets, rollupRemoved) = e.erase(U1)
    assert(rollupRemoved === 0L)
    assert(buckets.keySet === Set(9000L, 10000L, 11000L))
    assert(buckets(9000L) === ((2L, 1L)))
    assert(buckets(10000L) === ((2L, 1L)))
    assert(buckets(11000L) === ((3L, 2L))) // both U2 raw rows kept
    // U1 gone everywhere, U2 reads exactly as before (LWW winner 7.0)
    assert(vals(e.getDoubles(9000L, 9010L, U1)) === Seq(0.0))
    assert(vals(e.getDoubles(11000L, 11010L, U1)) === Seq(0.0))
    assert(vals(e.getDoubles(9010L, 9020L, U2)) === Seq(2.0))
    assert(vals(e.getDoubles(11000L, 11010L, U2)) === Seq(7.0))
    // erase is idempotent: nothing left to remove, no rewrites
    assert(e.erase(U1) === ((Map.empty[Long, (Long, Long)], 0L)))
  }

  test("wildcard erase: every series of a user across metrics; emptied bucket partition vanishes") {
    val (e, clock) = mkEngine(now = 9999L)
    e.putDoubles(Seq(
      (9000L, U1, 1.0), (9010L, M1, 2.0)))  // bucket 9000 is ONLY user1
    clock.goto(11999L)
    e.putDoubles(Seq(
      (11000L, U1, 3.0), (11000L, U2, 4.0)))
    val (buckets, _) = e.erase(Seq("", "user1")) // any metric, user1
    assert(buckets(9000L) === ((2L, 0L))) // bucket emptied
    assert(buckets(11000L) === ((2L, 1L)))
    // emptied bucket partition is gone from disk like retention
    assert(!e.coldBucketsOnDisk().contains(9000L))
    assert(vals(e.getDoubles(11000L, 11010L, U2)) === Seq(4.0))
    // find for the erased user matches no series at all
    assert(e.findDoubles(9000L, 11010L, Seq("", "user1")).collect().isEmpty)
  }

  test("erase cascades into rollup deltas; watermark chain and other series' aggregates intact") {
    val (e, _) = mkEngine()
    e.putDoubles(Seq(
      (11000L, U1, 1.0), (11010L, U1, 2.0), (11000L, U2, 10.0)))
    assert(e.refreshRollup(100L) === 2L) // partials: U1, U2
    e.putDoubles(Seq((11020L, U1, 3.0), (11010L, U2, 20.0)))
    assert(e.refreshRollup(100L) === 2L) // second delta: U1, U2
    val (_, rollupRemoved) = e.erase(U1)
    assert(rollupRemoved === 2L) // one U1 partial per delta
    // U2's aggregate is untouched and still merges across both deltas
    val got = e.rollup(11000L, 11100L, U2, 100L).collect()
    assert(got.length === 1)
    assert(got(0).getLong(3) === 2L)        // cnt
    assert(got(0).getDouble(4) === 30.0)    // vsum
    // U1's aggregate is gone
    assert(e.rollup(11000L, 11100L, U1, 100L).collect().isEmpty)
    // the chain still covers and refresh stays incremental (no refold)
    assert(e.refreshRollup(100L) === 0L)
  }

  test("guards: all-wildcard refused, wrong arity refused, manifest-guarded") {
    val (e, _) = mkEngine()
    e.putDoubles(Seq((11000L, U1, 1.0)))
    intercept[IllegalArgumentException] { e.erase(Seq("", "")) }
    intercept[IllegalArgumentException] { e.erase(Seq("cpu")) }
    // stale-options engine must fail loudly before rewriting anything
    val stale = new Engine(spark,
      e.opts.copy(resolution = 20L), new TestClock(11999L))
    val err = intercept[IllegalArgumentException] { stale.erase(U1) }
    assert(err.getMessage.contains(EngineErrors.OptionsMismatch))
  }

  test("erase after compaction: rewritten (clustered) buckets erase identically") {
    val (e, clock) = mkEngine(now = 9999L)
    e.putDoubles(Seq(
      (9000L, U1, 1.0), (9010L, U2, 2.0),
      (9010L, U2, 3.0))) // LWW overwrite → compaction collapses it
    clock.goto(11999L)
    val (before, after) = e.compactBucket(9000L)
    assert(before === 3L && after === 2L)
    // erase out of the COMPACTED layout (single clustered batch dir)
    val (buckets, _) = e.erase(U1)
    assert(buckets === Map(9000L -> ((2L, 1L))))
    assert(vals(e.getDoubles(9000L, 9020L, U1)) === Seq(0.0, 0.0))
    assert(vals(e.getDoubles(9010L, 9020L, U2)) === Seq(3.0))
    // and the compaction of an erased bucket stays stable
    assert(e.compactBucket(9000L) === ((1L, 1L)))
    assert(vals(e.getDoubles(9010L, 9020L, U2)) === Seq(3.0))
  }

  test("a crash between the rollup-delta renames self-heals on the next erase") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val (e, _) = mkEngine()
    e.putDoubles(Seq((11000L, U1, 1.0), (11000L, U2, 2.0)))
    e.refreshRollup(100L)
    e.putDoubles(Seq((11010L, U1, 3.0)))
    e.refreshRollup(100L) // two deltas: losing the first BREAKS the chain
    // simulate the crash window: the first delta was staged out to
    // trash but the filtered replacement never landed
    val rollupDir = new Path(e.opts.tablePath + "_rollup")
    val fs = FileSystem.get(rollupDir.toUri, spark.sparkContext.hadoopConfiguration)
    val delta = fs.listStatus(rollupDir)
      .map(_.getPath).filter(_.getName.startsWith("delta="))
      .minBy(_.getName) // delta=-1_<n> sorts first
    assert(fs.rename(delta, graft.core.Publish.trashPath(delta)))
    // the chain is now broken — a rollup read fails loudly
    intercept[IllegalStateException] { e.rollup(11000L, 11100L, U1, 100L).collect() }
    // the next erase restores the delta first, then cascades
    val (_, removed) = e.erase(U1)
    assert(removed === 2L) // one U1 partial per delta
    assert(e.rollup(11000L, 11100L, U2, 100L).collect().length === 1)
    assert(e.rollup(11000L, 11100L, U1, 100L).collect().isEmpty)
  }
}
