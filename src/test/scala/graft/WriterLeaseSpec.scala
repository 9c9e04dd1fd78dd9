package graft

import java.nio.file.Files
import graft.core._

/** Cross-JVM single-writer lease on destructive verbs: the reference
  * is embedded single-process (kdb.go:6-15 — one owner per database
  * dir), so two processes interleaving destructive maintenance is an
  * extension hazard, not a reference behavior. The guard is a
  * fail-closed lease file under the table root: a second writer's
  * destructive verb throws err_writer_conflict while the holder's
  * heartbeat is fresh, steals a stale lease (crashed writer), and
  * plain appends (put — safe by uuid-staging construction) stay
  * lease-free. */
class WriterLeaseSpec extends SparkTestBase {

  private def mkOpts(ttlMs: Long = 60000L): EngineOptions = {
    val dir = Files.createTempDirectory("graft-lease").toString
    EngineOptions(
      databaseName = "ldb", dataDir = dir,
      indexDepth = 1, payloadSize = 8,
      bucketDuration = 1000L, resolution = 10L,
      maxHotBuckets = 2, writerLeaseTtlMs = ttlMs)
  }

  private def pt(ts: Long, tag: String, v: Long): Point =
    Point(ts, Seq(tag), java.nio.ByteBuffer.allocate(8).putLong(v).array())

  private def leaseFile(opts: EngineOptions) =
    new java.io.File(s"${opts.tablePath}/_graft_writer_lease")

  private def plantLease(opts: EngineOptions, uuid: String, ts: Long): Unit = {
    val f = leaseFile(opts)
    // a raw overwrite invalidates the Hadoop local-FS checksum sibling a
    // previous engine-side lease write left behind; without removing it
    // the planted lease reads as Unreadable (fail-closed), not Held
    new java.io.File(f.getParent, s".${f.getName}.crc").delete()
    val w = new java.io.FileWriter(f)
    try w.write(s"$uuid\n$ts\n") finally w.close()
  }

  test("a fresh foreign lease blocks destructive verbs with err_writer_conflict") {
    val opts = mkOpts()
    val clock = new TestClock(11999L)
    val e = new Engine(spark, opts, clock)
    assert(e.put(Seq(pt(11000L, "a", 1L))) === Map("ok" -> 1L))
    plantLease(opts, "other-writer", System.currentTimeMillis())
    val ex = intercept[IllegalStateException](e.removeBefore(11000L))
    assert(ex.getMessage.startsWith(EngineErrors.WriterConflict), ex.getMessage)
    // every destructive family member is gated the same way
    assert(intercept[IllegalStateException](e.compactBucket(11000L))
      .getMessage.startsWith(EngineErrors.WriterConflict))
    assert(intercept[IllegalStateException](e.erase(Seq("a")))
      .getMessage.startsWith(EngineErrors.WriterConflict))
    // table content untouched by the refused verbs
    assert(e.get(11000L, 11010L, Seq("a")).count() === 1L)
  }

  test("appends stay lease-free: put succeeds under a foreign lease") {
    val opts = mkOpts()
    val e = new Engine(spark, opts, new TestClock(11999L))
    assert(e.put(Seq(pt(11000L, "a", 1L))) === Map("ok" -> 1L))
    plantLease(opts, "other-writer", System.currentTimeMillis())
    assert(e.put(Seq(pt(11010L, "b", 2L))) === Map("ok" -> 1L))
  }

  test("a stale lease (crashed writer) is stolen; the verb runs and releases") {
    val opts = mkOpts(ttlMs = 60000L)
    val clock = new TestClock(11999L)
    val e = new Engine(spark, opts, clock)
    assert(e.put(Seq(pt(10000L, "a", 1L), pt(11000L, "a", 2L))) === Map("ok" -> 2L))
    clock.goto(12999L) // bucket 10000 leaves the hot window
    plantLease(opts, "crashed-writer", System.currentTimeMillis() - 120000L)
    e.removeBefore(11000L) // steals, runs, releases
    assert(e.get(10000L, 10010L, Seq("a")).head().getAs[Array[Byte]]("payload")
      .forall(_ == 0), "removeBefore must have applied after the steal")
    assert(!leaseFile(opts).exists(), "the lease must be released after the verb")
  }

  test("composed verbs acquire and release cleanly (compactCold → per-bucket lease)") {
    val opts = mkOpts()
    val clock = new TestClock(11999L)
    val e = new Engine(spark, opts, clock)
    assert(e.put(Seq(pt(11000L, "a", 1L), pt(11010L, "a", 2L))) === Map("ok" -> 2L))
    clock.goto(13999L) // bucket 11000 goes cold
    e.compactCold() // each inner compactBucket takes and releases its own lease
    assert(!leaseFile(opts).exists(), "no lease may leak after the composed verb")
    assert(e.get(11000L, 11020L, Seq("a")).count() === 2L)
  }

  test("heartbeat refreshes only a lease that is still ours; a stolen lease is never clobbered") {
    val opts = mkOpts()
    val e = new Engine(spark, opts, new TestClock(11999L))
    assert(e.put(Seq(pt(11000L, "a", 1L))) === Map("ok" -> 1L))
    // simulate our own live hold with an aging heartbeat
    plantLease(opts, e.writerUuidForTest, System.currentTimeMillis() - 5000L)
    e.leaseHeartbeatOnce()
    val refreshed = scala.io.Source.fromFile(leaseFile(opts)).getLines().toList
    assert(refreshed.head === e.writerUuidForTest)
    assert(System.currentTimeMillis() - refreshed(1).toLong < 2000L,
      "an owned lease must be refreshed")
    assert(!e.leaseLostObserved)
    // now simulate a legitimate steal (we stalled past ttl; a new holder
    // claimed): the next beat must NOT rewrite the file — the old
    // unconditional rewrite re-opened the split-brain — and must flip
    // the fencing flag so destructive publishes refuse
    plantLease(opts, "new-holder", System.currentTimeMillis())
    e.leaseHeartbeatOnce()
    val after = scala.io.Source.fromFile(leaseFile(opts)).getLines().toList
    assert(after.head === "new-holder", "a stolen lease must not be clobbered")
    assert(e.leaseLostObserved)
    val ex = intercept[IllegalStateException](e.assertLeaseHeldForTest())
    assert(ex.getMessage.startsWith(EngineErrors.WriterConflict))
    // a vanished lease file is also a lost hold (fail closed), checked
    // on a fresh instance so the flag state is independent
    val e2 = new Engine(spark, opts, new TestClock(11999L))
    plantLease(opts, e2.writerUuidForTest, System.currentTimeMillis())
    assert(leaseFile(opts).delete())
    e2.leaseHeartbeatOnce()
    assert(e2.leaseLostObserved)
    assert(!leaseFile(opts).exists(), "a lost hold must not re-create the lease")
  }

  test("rollupRemoveBefore refuses once its lease is lost, before deleting anything") {
    val opts = mkOpts()
    var e: Engine = null
    var stealOnRead = false
    // reading the time inside the verb is the moment another writer
    // steals the lease and our heartbeat notices
    val clock = new Clock {
      @volatile var now = 11999L
      def nowNs: Long = {
        if (stealOnRead) {
          stealOnRead = false
          plantLease(opts, "new-holder", System.currentTimeMillis())
          e.leaseHeartbeatOnce()
        }
        now
      }
    }
    e = new Engine(spark, opts, clock)
    e.putDoubles(Seq((10000L, Seq("a"), 1.0), (11000L, Seq("a"), 2.0)))
    e.refreshRollup(100L)
    clock.now = 12999L // bucket 10000 leaves the hot window
    stealOnRead = true
    val ex = intercept[IllegalStateException](e.rollupRemoveBefore(11000L))
    assert(ex.getMessage.startsWith(EngineErrors.WriterConflict), ex.getMessage)
    assert(e.rollup(10000L, 11100L, Seq("a"), 100L).count() === 2L,
      "the refused verb must leave every rollup bucket in place")
  }

  test("an unreadable lease file fails CLOSED (treated fresh), never stolen") {
    val opts = mkOpts()
    val clock = new TestClock(11999L)
    val e = new Engine(spark, opts, clock)
    assert(e.put(Seq(pt(10000L, "a", 1L), pt(11000L, "a", 2L))) === Map("ok" -> 2L))
    clock.goto(12999L)
    // the exact shape the old truncate-write heartbeat exposed mid-write:
    // an existing-but-empty lease. Stealing here raced a LIVE holder.
    val w = new java.io.FileWriter(leaseFile(opts)); w.close()
    val ex = intercept[IllegalStateException](e.removeBefore(11000L))
    assert(ex.getMessage.startsWith(EngineErrors.WriterConflict), ex.getMessage)
    // a garbage body (external corruption) is equally non-stealable
    val w2 = new java.io.FileWriter(leaseFile(opts))
    try w2.write("garbage-single-line") finally w2.close()
    assert(intercept[IllegalStateException](e.removeBefore(11000L))
      .getMessage.startsWith(EngineErrors.WriterConflict))
    assert(scala.io.Source.fromFile(leaseFile(opts)).mkString === "garbage-single-line",
      "the refused writer must leave the unreadable lease untouched for inspection")
    // data untouched by the refused verbs
    assert(e.get(10000L, 10010L, Seq("a")).count() === 1L)
  }

  test("stealing a stale lease bumps the fencing token past the victim's") {
    val opts = mkOpts(ttlMs = 60000L)
    val clock = new TestClock(11999L)
    val e = new Engine(spark, opts, clock)
    assert(e.put(Seq(pt(10000L, "a", 1L), pt(11000L, "a", 2L))) === Map("ok" -> 2L))
    clock.goto(12999L)
    val f = new java.io.FileWriter(leaseFile(opts))
    try f.write(s"crashed-writer\n${System.currentTimeMillis() - 120000L}\n7\n")
    finally f.close()
    e.removeBefore(11000L) // steals
    assert(e.leaseTokenForTest === 8L,
      "the stealer's token must strictly exceed the victim's (fencing order)")
    assert(!leaseFile(opts).exists())
  }

  test("sequential verbs from two engine instances interleave fine (acquire per verb)") {
    val opts = mkOpts()
    val clock = new TestClock(11999L)
    val e1 = new Engine(spark, opts, clock)
    val e2 = new Engine(spark, opts, clock)
    assert(e1.put(Seq(pt(10000L, "a", 1L), pt(11000L, "a", 2L))) === Map("ok" -> 2L))
    e1.compactBucket(11000L)
    clock.goto(12999L) // bucket 10000 leaves the hot window
    e2.removeBefore(11000L) // no live holder — acquires its own lease
    assert(!leaseFile(opts).exists())
  }
}
