package graft

import java.nio.file.Files
import graft.core._

/** Golden tests mirroring the reference's own scenarios
  * (dbase/dbase_test.go): tiny config (IndexDepth 4, PayloadSize 4,
  * BucketDuration 1000 ns, Resolution 10 ns), clock pinned to 11999 —
  * hot window = buckets 11000 and 10000, cold below, future above. */
class EngineSpec extends SparkTestBase {

  private def mkEngine(now: Long = 11999L): (Engine, TestClock) = {
    val dir = Files.createTempDirectory("graft-engine").toString
    val clock = new TestClock(now)
    val opts = EngineOptions(
      databaseName = "testdb", dataDir = dir,
      indexDepth = 4, payloadSize = 4,
      bucketDuration = 1000L, resolution = 10L)
    (new Engine(spark, opts, clock), clock)
  }

  private val tag4 = Seq("a", "b", "c", "d")
  private def pld(b: Byte): Array[Byte] = Array[Byte](b, b, b, b)

  private def payloads(df: org.apache.spark.sql.DataFrame): Seq[Seq[Byte]] =
    df.collect().map(_.getAs[Array[Byte]]("payload").toSeq).toSeq

  test("put then get returns written payloads in slot order (dbase_test.go:146-179)") {
    val (e, _) = mkEngine()
    assert(e.put(Seq(
      Point(10990L, tag4, pld(1)),
      Point(11000L, tag4, pld(2)))) === Map("ok" -> 2L))
    val got = payloads(e.get(10990L, 11010L, tag4))
    assert(got === Seq(pld(1).toSeq, pld(2).toSeq))
  }

  test("get over an unwritten range returns all-zero payloads of exact length") {
    val (e, _) = mkEngine()
    e.put(Seq(Point(11000L, tag4, pld(2))))
    val got = payloads(e.get(10000L, 10200L, tag4))
    assert(got.size === 20) // (end-start)/resolution, always
    assert(got.forall(_ === Seq[Byte](0, 0, 0, 0)))
  }

  test("get gap-fills interior missing slots with zeros") {
    val (e, _) = mkEngine()
    e.put(Seq(Point(10990L, tag4, pld(1)), Point(11010L, tag4, pld(3))))
    val got = payloads(e.get(10990L, 11020L, tag4))
    assert(got === Seq(pld(1).toSeq, Seq[Byte](0, 0, 0, 0), pld(3).toSeq))
  }

  test("get for a different series in a written bucket returns zeros (dbucket/dbucket.go:165-167)") {
    val (e, _) = mkEngine()
    e.put(Seq(Point(11000L, tag4, pld(2))))
    val got = payloads(e.get(11000L, 11010L, Seq("x", "y", "z", "w")))
    assert(got === Seq(Seq[Byte](0, 0, 0, 0)))
  }

  test("last-writer-wins at (series, slot) (dblock/dblock.go:198-205)") {
    val (e, _) = mkEngine()
    e.put(Seq(Point(11000L, tag4, pld(1))))
    e.put(Seq(Point(11005L, tag4, pld(9)))) // same slot after flooring
    val got = payloads(e.get(11000L, 11010L, tag4))
    assert(got === Seq(pld(9).toSeq))
  }

  test("put validation ledger: floor-then-future, arity, empties, payload size, cold bucket") {
    val (e, _) = mkEngine() // now = 11999
    val res = e.put(Seq(
      Point(11995L, tag4, pld(1)),              // slot 11990 <= now: ok
      Point(12000L, tag4, pld(1)),              // slot 12000 > now: future
      Point(11000L, tag4.take(3), pld(1)),      // wrong arity
      Point(11000L, Seq("a", "", "c", "d"), pld(1)), // empty tag
      Point(11000L, tag4, Array[Byte](1, 2)),   // wrong payload size
      Point(9000L, tag4, pld(1))))              // bucket 9000: cold (hot > 9000)
    assert(res === Map(
      "ok" -> 1L,
      "err_invalid_timestamp" -> 1L,
      "err_invalid_index_values" -> 2L,
      "err_invalid_payload" -> 1L,
      "err_write_on_read_only" -> 1L))
  }

  test("hot-window edge: bucket 10000 writable, bucket 9000 not (dbucket/dbucket.go:119-122)") {
    val (e, _) = mkEngine()
    assert(e.put(Seq(Point(10000L, tag4, pld(1)))) === Map("ok" -> 1L))
    assert(e.put(Seq(Point(9990L, tag4, pld(1)))) === Map("err_write_on_read_only" -> 1L))
  }

  test("get validation: asymmetric end rule and reversed range (dbase.go:166-174)") {
    val (e, _) = mkEngine() // now = 11999
    e.put(Seq(Point(11990L, tag4, pld(1))))
    // end = 12000 → last slot 11990 <= now: legal even though end > now
    assert(payloads(e.get(11990L, 12000L, tag4)) === Seq(pld(1).toSeq))
    // start beyond now: rejected
    intercept[IllegalArgumentException](e.get(12010L, 12020L, tag4))
    // reversed range: rejected
    intercept[IllegalArgumentException](e.get(11010L, 11000L, tag4))
    // wrong arity: rejected
    intercept[IllegalArgumentException](e.get(11000L, 11010L, Seq("a")))
  }

  test("find validation checks the floored end against now (dbase.go:234-241) — stricter than get") {
    val (e, _) = mkEngine() // now = 11999
    e.put(Seq(Point(11990L, tag4, pld(1))))
    // the same range that get() accepts is rejected by find()
    intercept[IllegalArgumentException](e.find(11990L, 12000L, Seq("a", "", "", "")))
  }

  test("NULL ts/tags/payload rows are rejected, never silently written") {
    import org.apache.spark.sql.types._
    val (e, _) = mkEngine()
    val schema = StructType(Seq(
      StructField("ts", LongType, nullable = true),
      StructField("tags", ArrayType(StringType), nullable = true),
      StructField("payload", BinaryType, nullable = true),
      StructField("seq", LongType, nullable = true)))
    val rows = Seq(
      org.apache.spark.sql.Row(null, Seq("a", "b", "c", "d"), pld(1), 1L),
      org.apache.spark.sql.Row(11000L, null, pld(1), 2L),
      org.apache.spark.sql.Row(11000L, Seq("a", "b", "c", "d"), null, 3L),
      org.apache.spark.sql.Row(11000L, Seq("q", "r", "s", "t"), pld(1), null),
      org.apache.spark.sql.Row(11000L, tag4, pld(7), 4L))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    assert(e.put(df) === Map(
      "err_invalid_timestamp" -> 1L,
      "err_invalid_index_values" -> 1L,
      "err_invalid_payload" -> 1L,
      "err_invalid_seq" -> 1L,
      "ok" -> 1L))
  }

  test("maxHotBuckets must be positive (0 would reject every write)") {
    intercept[IllegalArgumentException](
      EngineOptions("x", "/tmp/x", 4, 4, 1000L, 10L, maxHotBuckets = 0))
  }

  test("find: wildcard groups series, zero-fills seen series, omits never-seen (dbase_test.go:294-341)") {
    val (e, _) = mkEngine()
    e.put(Seq(
      Point(11000L, Seq("a", "b", "c", "d"), pld(1)),
      Point(11010L, Seq("a", "x", "c", "d"), pld(2))))
    val res = e.find(11000L, 11020L, Seq("a", "", "", ""))
    val rows = res.collect().map(r =>
      (r.getString(1), r.getLong(4), r.getAs[Array[Byte]]("payload").toSeq))
    // two series × two slots, dense
    assert(rows.toSeq === Seq(
      ("b", 11000L, pld(1).toSeq), ("b", 11010L, Seq[Byte](0, 0, 0, 0)),
      ("x", 11000L, Seq[Byte](0, 0, 0, 0)), ("x", 11010L, pld(2).toSeq)))
    // never-seen series contributes nothing
    assert(e.find(11000L, 11020L, Seq("zzz", "", "", "")).count() === 0L)
  }

  test("find with middle wildcard applies residual exact-match filters (mindex/mindex.go:154-167)") {
    val (e, _) = mkEngine()
    e.put(Seq(
      Point(11000L, Seq("a", "b", "c", "d"), pld(1)),
      Point(11000L, Seq("a", "x", "c", "q"), pld(2))))
    val res = e.find(11000L, 11010L, Seq("a", "", "c", "d"))
    val rows = res.collect().map(r => (r.getString(1), r.getAs[Array[Byte]]("payload").toSeq))
    assert(rows.toSeq === Seq(("b", pld(1).toSeq)))
  }

  test("removeBefore drops cold buckets, guards the hot window (dbase.go:323-364)") {
    val (e, clock) = mkEngine()
    e.put(Seq(
      Point(10000L, tag4, pld(1)),
      Point(11000L, tag4, pld(2))))
    assert(e.bucketsOnDisk() === Seq(10000L, 11000L))
    // advance time: hot = 13000, 12000; min removable = 12000
    clock.goto(13999L)
    intercept[IllegalArgumentException](e.removeBefore(12500L))
    e.removeBefore(11000L)
    assert(e.bucketsOnDisk() === Seq(11000L))
    // removed data is gone; surviving bucket intact
    assert(payloads(e.get(11000L, 11010L, tag4)) === Seq(pld(2).toSeq))
    assert(payloads(e.get(10000L, 10010L, tag4)) === Seq(Seq[Byte](0, 0, 0, 0)))
  }

  test("filesPerBucket > 1 spreads a bulk batch over several files; reads unchanged") {
    val dir = Files.createTempDirectory("graft-fpb").toString
    val clock = new TestClock(11999L)
    val opts = EngineOptions(
      databaseName = "fpb", dataDir = dir,
      indexDepth = 4, payloadSize = 4,
      bucketDuration = 1000L, resolution = 10L, filesPerBucket = 4)
    val e = new Engine(spark, opts, clock)
    // 64 series in one bucket. AQE's partition coalescing would merge
    // this tiny batch back to one writer task (correctly — the knob
    // matters for bulk sizes AQE won't coalesce); disable it here to
    // observe the configured fan-out.
    val pts = (0 until 64).map(i => Point(11000L + (i % 10) * 10, Seq("t", "u", "v", s"s$i"), pld(1)))
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try assert(e.put(pts) === Map("ok" -> 64L))
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val batchDirs = new java.io.File(s"$dir/fpb").listFiles()
      .filter(_.getName.startsWith("batch="))
    assert(batchDirs.length === 1)
    val files = new java.io.File(batchDirs.head, "bucket_ts=11000")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files > 1 && files <= 4, s"expected 2..4 files, got $files")
    // read parity: one series comes back dense and correct
    val got = payloads(e.get(11000L, 11100L, Seq("t", "u", "v", "s0")))
    assert(got.head === pld(1).toSeq)
    assert(got.size === 10)
  }

  test("interrupted compaction leaves duplicates that reads never see and re-compaction heals") {
    val (e, _) = mkEngine()
    e.put(Seq(Point(11000L, tag4, pld(5))))
    e.put(Seq(Point(11000L, tag4, pld(6), seq = 99L)))
    // simulate the compaction crash window: the compacted batch was
    // published but the source batch dirs were never deleted — i.e.
    // duplicate copies of the bucket coexist across batches
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(e.opts.dataDir), spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(e.opts.tablePath)
    val batches = fs.listStatus(root).filter(_.getPath.getName.startsWith("batch="))
    assert(batches.length === 2)
    val copy = new org.apache.hadoop.fs.Path(root, "batch=crashdup")
    org.apache.hadoop.fs.FileUtil.copy(fs, batches.head.getPath, fs, copy,
      false, spark.sparkContext.hadoopConfiguration)
    // duplicates are invisible to reads (LWW resolve)
    assert(payloads(e.get(11000L, 11010L, tag4)) === Seq(pld(6).toSeq))
    // re-compaction merges all copies into one batch, one row
    val (before, after) = e.compactBucket(11000L)
    assert(before === 3L && after === 1L)
    assert(payloads(e.get(11000L, 11010L, tag4)) === Seq(pld(6).toSeq))
    assert(fs.listStatus(root).count(_.getPath.getName.startsWith("batch=")) === 1)
    // a stale (crash-era) staging dir is invisible to readers
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, ".staging_deadbeef"))
    assert(payloads(e.get(11000L, 11010L, tag4)) === Seq(pld(6).toSeq))
  }

  test("compactCold folds every cold bucket's batches; hot buckets untouched") {
    val dir = Files.createTempDirectory("graft-cc").toString
    val clock = new TestClock(11999L)
    val opts = EngineOptions("cc", dir, 4, 4, 1000L, 10L)
    val e = new Engine(spark, opts, clock)
    // three batches into bucket 11000 (hot now), one into 10000
    e.put(Seq(Point(11000L, tag4, pld(1))))
    e.put(Seq(Point(11000L, tag4, pld(2), seq = 5L)))
    e.put(Seq(Point(10000L, tag4, pld(3), seq = 6L)))
    // time passes: both buckets leave the hot window
    clock.goto(14999L)
    val res = e.compactCold()
    assert(res.keySet === Set(10000L, 11000L))
    assert(res(11000L) === ((2L, 1L)))
    assert(res(10000L) === ((1L, 1L)))
    // reads unchanged, one batch dir per compacted bucket remains
    assert(payloads(e.get(11000L, 11010L, tag4)) === Seq(pld(2).toSeq))
    assert(payloads(e.get(10000L, 10010L, tag4)) === Seq(pld(3).toSeq))
  }

  test("concurrent writers from separate engine instances lose nothing") {
    // the atomic-batch layout's concrete claim: two writers (as if two
    // JVMs) publishing simultaneously never corrupt or drop batches —
    // there is no shared committer _temporary to collide in
    val dir = Files.createTempDirectory("graft-mw").toString
    val clock = new TestClock(11999L)
    val opts = EngineOptions("mw", dir, 4, 4, 1000L, 10L)
    val a = new Engine(spark, opts, clock)
    val b = new Engine(spark, opts, clock)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future {
      (0 until 10).map(i => a.put(Seq(
        Point(11000L + i * 10, Seq("w", "a", "x", s"s$i"), pld(1), seq = i.toLong))))
    }
    val fb = Future {
      (0 until 10).map(i => b.put(Seq(
        Point(11000L + i * 10, Seq("w", "b", "x", s"s$i"), pld(2), seq = 100L + i))))
    }
    Await.result(fa, 120.seconds)
    Await.result(fb, 120.seconds)
    // every one of the 20 interleaved publishes is present and readable
    val check = new Engine(spark, opts, clock)
    for (i <- 0 until 10) {
      assert(payloads(check.get(11000L + i * 10, 11010L + i * 10,
        Seq("w", "a", "x", s"s$i"))) === Seq(pld(1).toSeq), s"writer a, point $i")
      assert(payloads(check.get(11000L + i * 10, 11010L + i * 10,
        Seq("w", "b", "x", s"s$i"))) === Seq(pld(2).toSeq), s"writer b, point $i")
    }
  }

  test("data persists across engine instances (dbase_test.go:111-144 lifecycle)") {
    val dir = Files.createTempDirectory("graft-engine").toString
    val clock = new TestClock(11999L)
    val opts = EngineOptions("testdb", dir, 4, 4, 1000L, 10L)
    val e1 = new Engine(spark, opts, clock)
    e1.put(Seq(Point(11000L, tag4, pld(7))))
    val e2 = new Engine(spark, opts, clock)
    assert(payloads(e2.get(11000L, 11010L, tag4)) === Seq(pld(7).toSeq))
    // a re-opened engine's writes must WIN last-writer-wins against
    // data written by the previous instance (seq resumes past disk max)
    e2.put(Seq(Point(11000L, tag4, pld(8))))
    assert(payloads(e2.get(11000L, 11010L, tag4)) === Seq(pld(8).toSeq))
  }

  test("get() prunes bucket partitions at plan time (the trie/router replacement)") {
    val (e, _) = mkEngine()
    e.put(Seq(
      Point(10010L, tag4, pld(1)),   // bucket 10000
      Point(11000L, tag4, pld(2))))  // bucket 11000
    val plan = e.get(11000L, 11020L, tag4)
      .queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("bucket_ts"), s"no partition filter in scan: $scanLine")
    // only the one overlapping bucket partition survives pruning
    assert(plan.contains("PartitionCount: 1") || scanLine.nonEmpty)
  }

  test("compactBucket materializes last-writer-wins; reads unchanged") {
    val (e, _) = mkEngine()
    // 3 writes to the same slot + 1 to another slot = 4 stored rows
    e.put(Seq(Point(11000L, tag4, pld(1)), Point(11003L, tag4, pld(2))))
    e.put(Seq(Point(11007L, tag4, pld(3)), Point(11010L, tag4, pld(4))))
    val (before, after) = e.compactBucket(11000L)
    assert(before === 4L && after === 2L)
    // reads identical post-compaction; LWW result preserved
    assert(payloads(e.get(11000L, 11020L, tag4)) === Seq(pld(3).toSeq, pld(4).toSeq))
    // compacting again is a no-op
    assert(e.compactBucket(11000L) === ((2L, 2L)))
    // further writes still win over compacted rows
    e.put(Seq(Point(11000L, tag4, pld(9))))
    assert(payloads(e.get(11000L, 11010L, tag4)) === Seq(pld(9).toSeq))
  }

  test("typed payload view: doubles roundtrip through opaque storage; zero fills decode to 0.0") {
    val dir = Files.createTempDirectory("graft-typed").toString
    val clock = new TestClock(11999L)
    val opts = EngineOptions("tdb", dir, 4, 8, 1000L, 10L) // 8-byte payloads
    val e = new Engine(spark, opts, clock)
    import graft.plans.DoubleFromPayload.encode
    e.put(Seq(
      Point(11000L, tag4, encode(3.25)),
      Point(11020L, tag4, encode(-1.5e300))))
    val vals = e.getDoubles(11000L, 11030L, tag4).collect()
      .map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("value"))).toMap
    assert(vals(11000L) === 3.25)
    assert(vals(11010L) === 0.0) // gap slot: zero payload → 0.0
    assert(vals(11020L) === -1.5e300)
  }

  test("findDoubles: wildcard typed read decodes every matched series, gaps → 0.0") {
    val dir = Files.createTempDirectory("graft-typedf").toString
    val clock = new TestClock(11999L)
    val e = new Engine(spark, EngineOptions("tfdb", dir, 4, 8, 1000L, 10L), clock)
    val tagA = Seq("eu", "web", "host1", "cpu")
    val tagB = Seq("eu", "web", "host2", "cpu")
    assert(e.putDoubles(Seq(
      (11000L, tagA, 1.25),
      (11010L, tagB, -7.5))) === Map("ok" -> 2L))
    // wildcard at position 3 matches both hosts; 2 series × 2 slots
    val rows = e.findDoubles(11000L, 11020L, Seq("eu", "web", "", "cpu")).collect()
    assert(rows.length === 4)
    val byKey = rows.map(r =>
      (r.getString(r.fieldIndex("tag2")), r.getLong(r.fieldIndex("slot_ns"))) ->
        r.getDouble(r.fieldIndex("value"))).toMap
    assert(byKey(("host1", 11000L)) === 1.25)
    assert(byKey(("host1", 11010L)) === 0.0) // gap slot zero-fills
    assert(byKey(("host2", 11000L)) === 0.0)
    assert(byKey(("host2", 11010L)) === -7.5)
  }

  test("putDoubles → getDoubles roundtrips bit-exactly (typed write twin)") {
    val dir = Files.createTempDirectory("graft-typedw").toString
    val clock = new TestClock(11999L)
    val e = new Engine(spark, EngineOptions("twdb", dir, 4, 8, 1000L, 10L), clock)
    assert(e.putDoubles(Seq(
      (11000L, tag4, 42.0625),
      (11010L, tag4, java.lang.Double.MIN_VALUE))) === Map("ok" -> 2L))
    val vals = e.getDoubles(11000L, 11020L, tag4).collect()
      .map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("value"))).toMap
    assert(vals(11000L) === 42.0625)
    assert(vals(11010L) === java.lang.Double.MIN_VALUE) // subnormal survives
    // wrong payload size is a loud caller error
    val e4 = mkEngine()._1
    intercept[IllegalArgumentException] {
      e4.putDoubles(Seq((11000L, tag4, 1.0)))
    }
  }

  test("snapshot reads: getAsOf sees the world at a seq watermark; compaction collapses history") {
    val (e, _) = mkEngine()
    e.put(Seq(Point(11000L, tag4, pld(1))))
    val s1 = e.currentSeq()
    assert(s1 >= 0L)
    e.put(Seq(Point(11000L, tag4, pld(9)))) // overwrite the same slot
    val s2 = e.currentSeq()
    assert(s2 > s1)
    // live read sees the overwrite; the snapshot at s1 still sees v1
    assert(payloads(e.get(11000L, 11010L, tag4)) === Seq(pld(9).toSeq))
    assert(payloads(e.getAsOf(11000L, 11010L, tag4, s1)) === Seq(pld(1).toSeq))
    // a snapshot before any write is all-zero (nothing visible)
    assert(payloads(e.getAsOf(11000L, 11010L, tag4, s1 - 1))
      === Seq(Seq[Byte](0, 0, 0, 0)))
    // findAsOf: the series exists at s1 with v1
    val f = e.findAsOf(11000L, 11010L, Seq("a", "", "", ""), s1)
    assert(payloads(f) === Seq(pld(1).toSeq))
    // compaction collapses the slot's history to the latest write at
    // max seq — the s1 snapshot now predates every stored row
    e.compactBucket(11000L)
    assert(payloads(e.get(11000L, 11010L, tag4)) === Seq(pld(9).toSeq))
    assert(payloads(e.getAsOf(11000L, 11010L, tag4, s1))
      === Seq(Seq[Byte](0, 0, 0, 0)))
  }

  test("series() enumerates distinct tag tuples in range; stats() reports per-bucket shape") {
    val (e, _) = mkEngine()
    e.put(Seq(
      Point(10500L, Seq("a", "b", "c", "d"), pld(1)),
      Point(11000L, Seq("a", "b", "c", "d"), pld(2)), // same series again
      Point(11000L, Seq("a", "x", "y", "z"), pld(3)),
      Point(11010L, Seq("q", "r", "s", "t"), pld(4))))
    // full enumeration
    val all = e.series(10000L, 12000L).collect().map(r =>
      (0 until 4).map(r.getString).mkString(","))
    assert(all.toSeq === Seq("a,b,c,d", "a,x,y,z", "q,r,s,t"))
    // constrained by a leading tag (wildcard rest)
    val aOnly = e.series(10000L, 12000L, Seq("a", "", "", "")).collect()
    assert(aOnly.length === 2)
    // range-constrained: bucket 10000 has only the first series
    assert(e.series(10000L, 11000L).count() === 1L)
    // stats: two buckets; bucket 11000 holds 3 rows (incl. the repeat)
    val st = e.stats().collect().map(r =>
      r.getLong(r.fieldIndex("bucket_ts")) -> r.getLong(r.fieldIndex("rows"))).toMap
    assert(st === Map(10000L -> 1L, 11000L -> 3L))
  }

  test("ingest files are clustered by (series, slot): row-group stats prune fresh writes") {
    import java.nio.file.{Files => JFiles, Paths}
    val (e, _) = mkEngine()
    // interleave series and slots so an unsorted writer would
    // interleave rows in the output file
    val pts = (0 until 40).map { i =>
      val s = if (i % 2 == 0) "aa" else "zz"
      Point(11000L + (i % 10) * 10, Seq(s, "b", "c", "d"), pld((i % 7).toByte), seq = i.toLong)
    }
    assert(e.put(pts) === Map("ok" -> 40L))
    val parts = JFiles.walk(Paths.get(e.opts.tablePath)).iterator()
      .asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    var checked = 0
    parts.forEachRemaining { p =>
      val n = p.getFileName.toString
      if (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")) {
        // reading ONE file preserves its physical row order
        val rows = spark.read.parquet(p.toString)
          .select("tag0", "slot_ns").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq
        assert(rows === rows.sorted, s"file $n is not clustered by (series, slot)")
        checked += 1
      }
    }
    assert(checked > 0, "no data files written")
  }

  test("corrupt data files degrade to skip+audit, never an opaque job kill (mindex_test.go:84-107)") {
    import java.nio.file.{Files => JFiles, Paths}
    val (e, _) = mkEngine()
    e.put(Seq(
      Point(10990L, tag4, pld(1)),
      Point(11000L, tag4, pld(2)),
      Point(11010L, tag4, pld(3))))
    assert(e.corruptFiles().isEmpty)
    // damage one bucket dir the two ways a committed file gets torn:
    // a garbage byte blob, and a truncated copy of a real part file
    // (footer gone) — both pass the publish rename, both must be
    // tolerated on read like the reference tolerates a torn index log
    val parts = JFiles.walk(Paths.get(e.opts.tablePath)).iterator()
      .asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    var bucketDir: java.nio.file.Path = null
    var realPart: java.nio.file.Path = null
    parts.forEachRemaining { p =>
      val n = p.getFileName.toString
      if (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".") && realPart == null) {
        realPart = p; bucketDir = p.getParent
      }
    }
    assert(realPart != null, "no data file written")
    val garbage = bucketDir.resolve("part-garbage.parquet")
    JFiles.write(garbage, Array.tabulate[Byte](256)(i => (i * 31).toByte))
    val torn = bucketDir.resolve("part-torn.parquet")
    val whole = JFiles.readAllBytes(realPart)
    JFiles.write(torn, whole.take(whole.length / 2))

    // reads still serve every intact row, zero-filling as usual
    val got = payloads(e.get(10990L, 11020L, tag4))
    assert(got === Seq(pld(1).toSeq, pld(2).toSeq, pld(3).toSeq))
    assert(e.find(10990L, 11020L, tag4).count() === 3L)
    // and the audit names exactly the damaged files for repair
    assert(e.corruptFiles().map(f => f.substring(f.lastIndexOf('/') + 1)).sorted ===
      Seq("part-garbage.parquet", "part-torn.parquet"))
  }

  test("rebucket migrates the layout: identical reads, updated manifest, stale engine fails loudly") {
    val dir = Files.createTempDirectory("graft-rebucket").toString
    val clock = new TestClock(11999L)
    val opts = EngineOptions("rbdb", dir, 4, 4, 1000L, 10L)
    val e1 = new Engine(spark, opts, clock)
    // writes span both hot buckets, with a cross-batch LWW overwrite
    e1.put(Seq(Point(10990L, tag4, pld(1)), Point(11000L, tag4, pld(2))))
    e1.put(Seq(Point(11000L, tag4, pld(9)))) // overwrites slot 11000
    val before = payloads(e1.get(10980L, 11010L, tag4))
    assert(before === Seq(Seq[Byte](0, 0, 0, 0), pld(1).toSeq, pld(9).toSeq))

    val newOpts = e1.rebucket(2000L)
    assert(newOpts.bucketDuration === 2000L)
    // the migrating instance is invalid by design
    val ex = intercept[IllegalArgumentException](e1.get(10990L, 11010L, tag4))
    assert(ex.getMessage.contains(EngineErrors.OptionsMismatch))
    // a reopen with the returned options reads the identical data…
    val e2 = new Engine(spark, newOpts, clock)
    assert(payloads(e2.get(10980L, 11010L, tag4)) === before)
    // …from 2000-wide buckets (both old buckets folded into base 10000)
    assert(e2.bucketsOnDisk() === Seq(10000L))
    // and accepts new writes under the new layout
    assert(e2.put(Seq(Point(11500L, tag4, pld(5)))) === Map("ok" -> 1L))
    assert(payloads(e2.get(11500L, 11510L, tag4)) === Seq(pld(5).toSeq))
    // invalid target duration (not a multiple of resolution) rejected up front
    intercept[IllegalArgumentException](e2.rebucket(2505L))
  }

  test("exportSnapshot freezes the MVCC cut: later writes never reach the export") {
    val (e, _) = mkEngine()
    e.put(Seq(Point(11000L, tag4, pld(1))))
    val cut = e.currentSeq()
    e.put(Seq(Point(11000L, tag4, pld(9)), Point(11010L, tag4, pld(5))))
    val out = Files.createTempDirectory("graft-snap").toString + "/snap"
    assert(e.exportSnapshot(cut, out) === 1L)
    // the export holds the pre-cut value only
    val snap = spark.read.parquet(out).collect()
    assert(snap.length === 1)
    assert(snap.head.getAs[Array[Byte]]("payload").toSeq === pld(1).toSeq)
    // …while the live table moved on
    assert(payloads(e.get(11000L, 11020L, tag4)) === Seq(pld(9).toSeq, pld(5).toSeq))
    // a second export into the same dir must refuse, not clobber
    intercept[Exception](e.exportSnapshot(cut, out))
  }

  test("importSnapshot restores an export: reads match, MVCC continues, layout violations refuse") {
    val (e, clock) = mkEngine()
    e.put(Seq(Point(11000L, tag4, pld(1)), Point(11010L, tag4, pld(2))))
    e.put(Seq(Point(11000L, tag4, pld(7)))) // LWW overwrite pre-cut
    val cut = e.currentSeq()
    val out = Files.createTempDirectory("graft-snapio").toString + "/snap"
    assert(e.exportSnapshot(cut, out) === 2L)

    // restore into a FRESH engine dir
    val dir2 = Files.createTempDirectory("graft-restore").toString
    val e2 = new Engine(spark, EngineOptions("rdb", dir2, 4, 4, 1000L, 10L), clock)
    assert(e2.importSnapshot(out) === 2L)
    // reads equal the source's resolved state at the cut
    assert(payloads(e2.get(11000L, 11020L, tag4)) ===
      payloads(e.getAsOf(11000L, 11020L, tag4, cut)))
    // the MVCC watermark continues from the snapshot's seqs…
    assert(e2.currentSeq() === cut)
    // …and new writes keep working on top of the restore (LWW wins)
    assert(e2.put(Seq(Point(11000L, tag4, pld(9)))) === Map("ok" -> 1L))
    assert(payloads(e2.get(11000L, 11010L, tag4)) === Seq(pld(9).toSeq))
    // idempotent re-import: identical rows are LWW-invisible duplicates
    // of losers — the serving read is unchanged
    e2.importSnapshot(out)
    assert(payloads(e2.get(11000L, 11010L, tag4)) === Seq(pld(9).toSeq))

    // a snapshot whose layout disagrees with the target engine refuses
    // wholesale: payload width 4 into a width-8 engine
    val dir3 = Files.createTempDirectory("graft-restore8").toString
    val e3 = new Engine(spark, EngineOptions("rdb8", dir3, 4, 8, 1000L, 10L), clock)
    val ex = intercept[IllegalArgumentException](e3.importSnapshot(out))
    assert(ex.getMessage.contains("invalid_payload"))
    // and nothing was adopted
    assert(e3.currentSeq() === -1L)
  }

  test("replication receipt: verifyReceipt passes on a faithful replica, detects primary erase") {
    val (e, clock) = mkEngine()
    e.put(Seq(Point(11000L, tag4, pld(1)), Point(11010L, tag4, pld(2))))
    val w1 = e.currentSeq()
    val d1 = Files.createTempDirectory("graft-rcpt").toString + "/d1"
    assert(e.exportDelta(Long.MinValue, w1, d1) === 2L)

    val dir2 = Files.createTempDirectory("graft-rcpt-replica").toString
    val e2 = new Engine(spark, EngineOptions("rep", dir2, 4, 4, 1000L, 10L), clock)
    e2.importSnapshot(d1)
    // faithful replica: receipt verifies and equals a direct checksum
    assert(e2.verifyReceipt(d1) === e.lwwChecksum(w1))

    // primary runs a destructive verb, then ships the next delta:
    // the removal cannot ride the delta — receipt must fail loudly
    e.erase(tag4)
    assert(e.put(Seq(Point(11500L, tag4, pld(3)))) === Map("ok" -> 1L))
    val w2 = e.currentSeq()
    val d2 = Files.createTempDirectory("graft-rcpt").toString + "/d2"
    e.exportDelta(w1, w2, d2)
    e2.importSnapshot(d2)
    val ex = intercept[IllegalStateException](e2.verifyReceipt(d2))
    assert(ex.getMessage.contains("full re-sync"))
    // a missing receipt is an argument error, not a silent pass
    intercept[IllegalArgumentException](
      e2.verifyReceipt(Files.createTempDirectory("graft-norcpt").toString))
  }

  test("incremental receipt chain equals a full recompute across deltas; breaks on retro-seq put") {
    val (e, clock) = mkEngine()
    // d1 seeds the chain (full compute path)
    e.put(Seq(Point(11000L, tag4, pld(1)), Point(11010L, tag4, pld(2))))
    val w1 = e.currentSeq()
    val base = Files.createTempDirectory("graft-chain").toString
    e.exportDelta(Long.MinValue, w1, s"$base/d1")
    // d2: one overwrite (same slot) + one new key → incremental path
    e.put(Seq(Point(11000L, tag4, pld(7)), Point(11020L, tag4, pld(3))))
    val w2 = e.currentSeq()
    e.exportDelta(w1, w2, s"$base/d2")
    // d3: pure overwrite → incremental again
    e.put(Seq(Point(11020L, tag4, pld(9))))
    val w3 = e.currentSeq()
    e.exportDelta(w2, w3, s"$base/d3")
    // every chained receipt must equal the full recompute on a replica
    // that applied the whole chain
    val dir2 = Files.createTempDirectory("graft-chain-replica").toString
    val e2 = new Engine(spark, EngineOptions("crep", dir2, 4, 4, 1000L, 10L), clock)
    e2.importSnapshot(s"$base/d1")
    assert(e2.verifyReceipt(s"$base/d1") === e.lwwChecksum(w1))
    e2.importSnapshot(s"$base/d2")
    assert(e2.verifyReceipt(s"$base/d2") === e.lwwChecksum(w2))
    e2.importSnapshot(s"$base/d3")
    assert(e2.verifyReceipt(s"$base/d3") === e.lwwChecksum(w3))

    // retro-seq put: an explicit seq AT the chained watermark changes
    // what w3 resolves to — the chain must break, the next receipt
    // (an EMPTY delta, which a chained shortcut would pass through
    // untouched) must be a full recompute reflecting the retro write
    {
      import spark.implicits._
      assert(e.put(Seq(Point(11010L, tag4, pld(8), seq = w3)).toDS().toDF())
        === Map("ok" -> 1L))
    }
    e.exportDelta(w3, w3, s"$base/d4") // routine no-op sync cycle
    // primary's own recompute agrees with the shipped receipt…
    assert(e.verifyReceipt(s"$base/d4") === e.lwwChecksum(w3))
    // …and the replica (which never saw the retro write) fails loudly
    e2.importSnapshot(s"$base/d4")
    val ex = intercept[IllegalStateException](e2.verifyReceipt(s"$base/d4"))
    assert(ex.getMessage.contains("full re-sync"))

    // corrupt receipt parses as an argument error, not an exception leak
    val cdir = Files.createTempDirectory("graft-corrupt").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(cdir, "_graft_receipt"),
      "watermark=abc\nrows=\n".getBytes("UTF-8"))
    intercept[IllegalArgumentException](e2.verifyReceipt(cdir))
  }

  test("applyDelta verifies in one verb; duplicate-seq ties stay receipt-stable") {
    val (e, clock) = mkEngine()
    e.put(Seq(Point(11000L, tag4, pld(1)), Point(11010L, tag4, pld(2))))
    // duplicate (series, slot, seq) with DIFFERENT payloads: explicit
    // -seq ingest is allowed to do this, and the LWW winner must be
    // deterministic (max over (seq, payload)) or primary and replica
    // receipts disagree spuriously
    locally {
      import spark.implicits._
      // both AT the current watermark: two rows, same (series, slot,
      // seq), different payloads
      val w = e.currentSeq()
      e.put(Seq(Point(11020L, tag4, pld(3), seq = w)).toDS().toDF())
      e.put(Seq(Point(11020L, tag4, pld(4), seq = w)).toDS().toDF())
    }
    val w1 = e.currentSeq()
    val d1 = Files.createTempDirectory("graft-apply").toString + "/d1"
    e.exportDelta(Long.MinValue, w1, d1)
    val dir2 = Files.createTempDirectory("graft-apply-replica").toString
    val e2 = new Engine(spark, EngineOptions("arep", dir2, 4, 4, 1000L, 10L), clock)
    val (applied, rows, hash) = e2.applyDelta(d1)
    assert(applied === 3L)
    assert((rows, hash) === e.lwwChecksum(w1))
    // and re-verifying a second time is stable (no nondeterministic
    // winner re-pick across recomputes)
    assert(e2.verifyReceipt(d1) === ((rows, hash)))

    // post-erase divergence throws from the ONE verb — a sync loop
    // using applyDelta cannot apply-and-forget
    e.erase(tag4)
    e.put(Seq(Point(11500L, tag4, pld(5))))
    val w2 = e.currentSeq()
    val d2 = Files.createTempDirectory("graft-apply").toString + "/d2"
    e.exportDelta(w1, w2, d2)
    val ex = intercept[IllegalStateException](e2.applyDelta(d2))
    assert(ex.getMessage.contains("full re-sync"))
  }

  test("auditTable: healthy table is all zeros; a misfiled row is counted") {
    val dir = Files.createTempDirectory("graft-audit").toString
    val clock = new TestClock(11999L)
    val opts = EngineOptions("audb", dir, 4, 4, 1000L, 10L)
    val e = new Engine(spark, opts, clock)
    e.put(Seq(Point(10990L, tag4, pld(1)), Point(11000L, tag4, pld(2))))
    assert(e.auditTable().forall(_._2 === 0L))

    // misfile: copy bucket 10000's data file into a bucket_ts=11000 dir
    // (partition value comes from the DIR, so its rows read as 11000)
    import java.nio.file.{Files => JF, Paths}
    import scala.jdk.CollectionConverters._
    val table = Paths.get(dir, "audb")
    val files = JF.walk(table).iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }.toList
    val src = files.find(_.toString.contains("bucket_ts=10000")).get
    val dstDir = src.getParent.getParent.resolve("bucket_ts=11000")
    JF.createDirectories(dstDir)
    JF.copy(src, dstDir.resolve("part-misfiled.parquet"))
    assert(e.auditTable()("misplaced_rows") === 1L)
  }

  test("options validation mirrors dbase.go:71-73") {
    intercept[IllegalArgumentException](
      EngineOptions("x", "/tmp/x", 4, 4, bucketDuration = 1000L, resolution = 7L))
  }

  test("reopen with mismatched layout options fails loudly; compatible reopen works (dbase.go:56-74)") {
    val dir = Files.createTempDirectory("graft-manifest").toString
    val clock = new TestClock(11999L)
    val opts = EngineOptions("mdb", dir, 4, 4, 1000L, 10L)
    val e1 = new Engine(spark, opts, clock)
    assert(e1.put(Seq(Point(11000L, tag4, pld(2)))) === Map("ok" -> 1L))

    // compatible reopen (different operational tuning is legal)
    val e2 = new Engine(spark, opts.copy(maxHotBuckets = 3, filesPerBucket = 2), clock)
    assert(payloads(e2.get(11000L, 11010L, tag4)) === Seq(pld(2).toSeq))

    // every layout param mismatch is rejected, on reads AND writes,
    // naming the offending key — never a silent misread (a depth-3
    // reopen would read NULL tag columns; a resolution change would
    // re-floor slots into the wrong grid)
    for (bad <- Seq(
        opts.copy(indexDepth = 3),
        opts.copy(payloadSize = 8),
        opts.copy(bucketDuration = 2000L),
        opts.copy(resolution = 20L))) {
      val eBad = new Engine(spark, bad, clock)
      // arity-matched tags so argument validation passes and the
      // manifest check is what fires
      val badTags = tag4.take(bad.indexDepth).padTo(bad.indexDepth, "z")
      val exR = intercept[IllegalArgumentException](eBad.get(11000L, 11010L, badTags))
      assert(exR.getMessage.contains(EngineErrors.OptionsMismatch))
      val exW = intercept[IllegalArgumentException](
        eBad.put(Seq(Point(11000L, tag4.take(bad.indexDepth).padTo(bad.indexDepth, "z"),
          Array.fill[Byte](bad.payloadSize)(1)))))
      assert(exW.getMessage.contains(EngineErrors.OptionsMismatch))
    }
  }

  test("a never-written table reads as empty (manifest creation must not break the empty path)") {
    // ensureManifest creates the table dir (+ _graft_options) on first
    // contact, so the read no longer takes the dir-missing branch —
    // the parquet read of a data-less dir must still be empty & dense
    val (e, _) = mkEngine()
    val got = payloads(e.get(10000L, 10050L, tag4))
    assert(got.size === 5)
    assert(got.forall(_ === Seq[Byte](0, 0, 0, 0)))
    assert(e.find(10000L, 10050L, tag4).count() === 0L)
    // and a write after the read-first contact still works
    assert(e.put(Seq(Point(11000L, tag4, pld(7)))) === Map("ok" -> 1L))
    assert(payloads(e.get(11000L, 11010L, tag4)) === Seq(pld(7).toSeq))
  }

  test("a pre-manifest table: reads stay pure, the first WRITE adopts, adoption guards afterwards") {
    val dir = Files.createTempDirectory("graft-adopt").toString
    val clock = new TestClock(11999L)
    val opts = EngineOptions("adb", dir, 4, 4, 1000L, 10L)
    val e1 = new Engine(spark, opts, clock)
    e1.put(Seq(Point(11000L, tag4, pld(2))))
    // simulate a table written before the manifest existed
    val manifest = java.nio.file.Paths.get(dir, "adb", "_graft_options")
    java.nio.file.Files.delete(manifest)

    // a read serves data but does NOT mutate storage (read-only mounts
    // stay readable; a premature reader can't pin its own options)…
    val e2 = new Engine(spark, opts, clock)
    assert(payloads(e2.get(11000L, 11010L, tag4)) === Seq(pld(2).toSeq))
    assert(!java.nio.file.Files.exists(manifest))
    // …the first WRITE adopts the manifest…
    val e2w = new Engine(spark, opts, clock)
    e2w.put(Seq(Point(11010L, tag4, pld(3))))
    assert(java.nio.file.Files.exists(manifest))
    // …and the adopted manifest guards later mismatched opens
    val e3 = new Engine(spark, opts.copy(resolution = 20L), clock)
    val ex = intercept[IllegalArgumentException](e3.get(11000L, 11020L, tag4))
    assert(ex.getMessage.contains(EngineErrors.OptionsMismatch))
  }

  test("a nondeterministic source the write job rejects entirely: ledger ok equals rows stored") {
    // The write job sees every row rejected, so AQE drops its metrics
    // node; a second evaluation of the source would accept them all.
    val (e, _) = mkEngine()
    FlakyTags.seen.clear()
    val t = tag4
    val flaky = org.apache.spark.sql.functions.udf((id: Long) =>
      if (FlakyTags.seen.add(id)) Seq.empty[String] else t).asNondeterministic()
    import org.apache.spark.sql.functions.{col, lit}
    val points = spark.range(5).select(
      (lit(11000L) + col("id") * 10).as("ts"), flaky(col("id")).as("tags"),
      lit(pld(7)).as("payload"), col("id").as("seq"))
    val ledger = e.put(points)
    val stored = payloads(e.get(11000L, 11050L, tag4)).count(_ == pld(7).toSeq)
    assert(ledger.getOrElse(EngineErrors.Ok, 0L) === stored.toLong, s"ledger $ledger")
  }

  test("a corrupt or truncated manifest fails closed, never validates by omission") {
    val dir = Files.createTempDirectory("graft-badman").toString
    val clock = new TestClock(11999L)
    val opts = EngineOptions("bdb", dir, 4, 4, 1000L, 10L)
    new Engine(spark, opts, clock).put(Seq(Point(11000L, tag4, pld(2))))
    val manifest = java.nio.file.Paths.get(dir, "bdb", "_graft_options")
    // truncated (missing keys) + an unparsable value; drop the Hadoop
    // local-FS checksum sidecar so the read sees the damage, not a
    // ChecksumException
    java.nio.file.Files.writeString(manifest, "indexDepth=4\nresolution=1x0\n")
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "bdb", "._graft_options.crc"))
    val e2 = new Engine(spark, opts, clock)
    val ex = intercept[IllegalArgumentException](e2.get(11000L, 11010L, tag4))
    assert(ex.getMessage.contains(EngineErrors.OptionsMismatch))
    assert(ex.getMessage.contains("<missing/corrupt>"))
  }

  test("maintenance paths are manifest-guarded (compaction/retention under wrong options is destructive)") {
    val dir = Files.createTempDirectory("graft-maint").toString
    val clock = new TestClock(11999L)
    val opts = EngineOptions("gdb", dir, 4, 4, 1000L, 10L)
    new Engine(spark, opts, clock).put(Seq(Point(10500L, tag4, pld(2))))
    val bad = new Engine(spark, opts.copy(indexDepth = 3), clock)
    val exC = intercept[IllegalArgumentException](bad.compactBucket(10000L))
    assert(exC.getMessage.contains(EngineErrors.OptionsMismatch))
    val exR = intercept[IllegalArgumentException](bad.removeBefore(10000L))
    assert(exR.getMessage.contains(EngineErrors.OptionsMismatch))
  }

  test("sqlView: ad-hoc SQL over the LWW-resolved store equals get(); live, typed, pruned") {
    val dir = Files.createTempDirectory("graft-sqlview").toString
    val clock = new TestClock(11999L)
    val opts = EngineOptions("vdb", dir, indexDepth = 2, payloadSize = 8,
      bucketDuration = 1000L, resolution = 10L)
    val e = new Engine(spark, opts, clock)
    val T = Seq("cpu", "h1")
    e.putDoubles(Seq((11000L, T, 1.0), (11010L, T, 2.0), (11000L, T, 9.0))) // LWW at 11000
    e.sqlView("graft_store")
    // LWW-resolved, typed, ordered — exactly what getDoubles serves
    val got = spark.sql(
      """SELECT slot_ns, value FROM graft_store
         WHERE tag0 = 'cpu' AND tag1 = 'h1' AND slot_ns >= 11000 AND slot_ns < 11020
         ORDER BY slot_ns""").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === Seq((11000L, 9.0), (11010L, 2.0)))
    val viaGet = e.getDoubles(11000L, 11020L, T)
      .collect().map(r => (r.getAs[Long]("slot_ns"), r.getAs[Double]("value"))).toSeq
    assert(got === viaGet)
    // the view is a FILE-LEVEL SNAPSHOT: a later batch stays invisible
    // until re-registration (which also shields in-flight SQL from
    // compaction's file swaps in the common case)
    e.putDoubles(Seq((11020L, T, 5.0)))
    assert(spark.sql("SELECT count(*) FROM graft_store").collect()(0).getLong(0) === 2L)
    e.sqlView("graft_store")
    assert(spark.sql("SELECT count(*) FROM graft_store").collect()(0).getLong(0) === 3L)
    // tag + slot predicates reach the parquet scan (pushdown through
    // the LWW aggregate's grouping keys)
    val plan = spark.sql(
      "SELECT value FROM graft_store WHERE tag0 = 'cpu' AND slot_ns >= 11000")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("EqualTo(tag0,cpu)"),
      s"tag predicate must reach the scan:\n$plan")
  }
}

/** Rows seen by the flaky tag source: the first evaluation of a row
  * yields no tags (a reject), every later one a valid tuple. */
object FlakyTags {
  val seen: java.util.Set[Long] = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
}
