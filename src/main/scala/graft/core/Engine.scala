package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The kdb surface (kdb.go:6-15) re-expressed Spark-first: Put / Get /
  * Find / RemoveBefore over a time-bucket-partitioned parquet table.
  *
  * Storage layout = the reference's bucket-directory scheme
  * (dbucket/dbucket.go:62-65) in parquet clothing, under an
  * atomic-publish batch level:
  *
  *   batch=<uuid>/bucket_ts=<baseTS>/part-*.parquet
  *
  * Each put publishes ONE batch dir with one filesystem rename (see
  * [[Publish]] — the ACID seam), while bucket_ts stays a discovered
  * partition column, so time-range predicates are still metadata-only
  * partition pruning and RemoveBefore is still a partition drop. Row
  * schema:
  *
  *   slot_ns LONG, tag0..tag{D-1} STRING, payload BINARY, seq LONG
  *   (partition cols: batch STRING (publish unit), bucket_ts LONG)
  *
  * vs the reference's dense per-series slot files: we store one row
  * per written point and reconstruct density (zero payloads for empty
  * slots, dbase/dbase.go:208-225) at read time with a generated slot
  * grid — idiomatic Spark, and parquet's columnar layout + min/max
  * stats replace the mmap trie (mindex/mindex.go).
  *
  * Last-writer-wins at (series, slot) — positional overwrite in the
  * reference (dblock/dblock.go:198-205) — is carried explicitly via
  * the `seq` ingest sequence and resolved with the ONE shared
  * deterministic winner rule ([[Engine.lwwAgg]]: max over
  * (seq, payload)) on every path — read, view, compaction, export,
  * checksum.
  */
final class Engine(spark: SparkSession, val opts: EngineOptions, clock: Clock = SystemClock) {
  import EngineErrors._

  private val tagCols: Seq[String] = (0 until opts.indexDepth).map(i => s"tag$i")

  /** The official NULL of the system: a zero payload
    * (dblock/dblock.go:249-297 — empty slots read back as zero bytes). */
  val zeroPayload: Array[Byte] = new Array[Byte](opts.payloadSize)

  private def floorRes(c: Column): Column = c - (c % opts.resolution)
  private def floorBucket(c: Column): Column = c - (c % opts.bucketDuration)

  private val pointSchema: StructType = StructType(
    StructField("ts", LongType) ::
      StructField("tags", ArrayType(StringType)) ::
      StructField("payload", BinaryType) ::
      StructField("seq", LongType) :: Nil)

  // ------------------------------------------------------------------
  // Put (dbase/dbase.go:125-159)
  // ------------------------------------------------------------------

  /** Classify every incoming row exactly as DBase.Put would, in the
    * reference's order: floor ts by resolution FIRST (dbase.go:127),
    * then future check (:129-132), tag arity / empty tags (:134-142),
    * payload size (:144-146), and finally the writable-window check
    * (dbucket/dbucket.go:119-122: only the `maxHotBuckets` most recent
    * buckets accept writes). Adds `reason` ('ok' or an error code),
    * plus the derived slot_ns / bucket_ts routing columns. */
  def classify(points: DataFrame): DataFrame = {
    val now = clock.nowNs
    val nowBucket = now - now % opts.bucketDuration
    val minHotExclusive = nowBucket - opts.bucketDuration * opts.maxHotBuckets
    // NULLs must be rejected EXPLICITLY: a bare `when(expr_on_null)`
    // evaluates to SQL NULL, is treated as false, and would fall
    // through to 'ok' — silently writing garbage (a NULL ts would even
    // land in a __HIVE_DEFAULT_PARTITION__ dir no read prunes to).
    points
      .withColumn("slot_ns", floorRes(col("ts")))
      .withColumn("bucket_ts", floorBucket(col("slot_ns")))
      .withColumn("reason",
        when(col("ts").isNull || col("slot_ns") > now, InvalidTimestamp)
          .when(col("tags").isNull || size(col("tags")) =!= opts.indexDepth,
            InvalidIndexValues)
          .when(exists(col("tags"), t => t === "" || t.isNull), InvalidIndexValues)
          .when(col("payload").isNull || octet_length(col("payload")) =!= opts.payloadSize,
            InvalidPayload)
          // a NULL seq would be accepted with an undefined LWW
          // position (null orders first in the winner struct, so the
          // acknowledged write loses to every real seq)
          .when(col("seq").isNull, InvalidSeq)
          .when(col("bucket_ts") <= minHotExclusive, WriteOnReadOnly)
          .otherwise(Ok))
  }

  /** Batch ingest. Validates, appends accepted rows to their bucket
    * partitions, returns the per-reason ledger (the batch analog of
    * the reference's per-call error returns — a distributed engine
    * surfaces rejects as data, it cannot throw per row). */
  // Each put publishes its own batch dir (no shared committer
  // _temporary), so concurrent writers — even cross-JVM — cannot
  // corrupt each other. The local lock only serializes this
  // instance's put/compact jobs so they don't contend for executor
  // resources and the ledger/readback ordering stays intuitive.
  private val writeLock = new Object

  // ------------------------------------------------------------------
  // Cross-JVM single-writer lease (destructive verbs only)
  // ------------------------------------------------------------------
  // `put` stays lease-free: each append publishes a fresh uuid batch
  // dir, so concurrent appenders — even cross-JVM — cannot corrupt
  // each other (the comment above). The
  // verbs that DELETE or SWAP existing dirs (removeBefore, compact*,
  // erase, rollback, rebucket, import/applyDelta, the rollup and
  // vector-index maintenance family) have no such immunity: two JVMs
  // interleaving their heals and swaps can delete each other's
  // in-flight work. They run under a
  // fail-closed lease file:
  //
  //   <tablePath>/_graft_writer_lease = "<holderUuid>\n<heartbeatMs>"
  //
  // Acquire = atomic create-if-absent; a holder heartbeats the file
  // every ttl/4 from a daemon thread, so a live holder's lease never
  // goes stale mid-verb no matter how long the verb runs. A second
  // writer finding a FRESH lease throws err_writer_conflict; a STALE
  // one (heartbeat older than writerLeaseTtlMs — a crashed writer)
  // is stolen.

  private val writerUuid = java.util.UUID.randomUUID().toString
  private[graft] def writerUuidForTest: String = writerUuid
  private def writerLeasePath = new Path(s"${opts.tablePath}/_graft_writer_lease")
  private var leaseDepth = 0 // guarded by writeLock (verbs compose: erase → cascades)
  // Fencing state for the CURRENT hold. `leaseLost` flips true when the
  // heartbeat observes a foreign uuid (or a vanished file) — our hold
  // was legitimately stolen after a stall past ttl. From then on the
  // heartbeat must NOT rewrite the file (it would clobber the new
  // holder's lease and re-open the split-brain the lease exists to
  // close) and every fenced destructive publish refuses with
  // err_writer_conflict instead of racing the new holder's sweeps.
  @volatile private var leaseLost = false
  private[graft] def leaseLostObserved: Boolean = leaseLost
  // Monotonic fencing token: fresh claim = 1, every steal = victim's
  // token + 1. Persisted as line 3 of the lease file so a downstream
  // store that supports conditional writes could reject a zombie's
  // stale-token publish; here it powers diagnostics + the steal test.
  private var leaseToken = 0L // guarded by writeLock
  private[graft] def leaseTokenForTest: Long = leaseToken

  private object Lease {
    sealed trait State
    case object Missing extends State
    /** Exists but does not parse. With temp+rename publish this means
      * external corruption/interference, NOT a normal mid-write — and
      * it must be treated as FRESH (fail closed): the old behavior
      * (steal on unparsable) let a reader that caught a truncated body
      * steal from a LIVE holder. Manual recovery: delete the file. */
    case object Unreadable extends State
    final case class Held(uuid: String, ts: Long, token: Long) extends State
  }

  /** Publish lease content as a whole file ([[Publish.file]]), so a
    * concurrent readLease never parses a truncated body as a missing
    * lease and steals from a live holder. `replaceExisting` is the
    * heartbeat refresh; readers catching its HDFS delete+rename window
    * take the claim path and lose the claim race, never the steal
    * path. Returns false if the rename lost. */
  private def writeLease(fs: FileSystem, token: Long, replaceExisting: Boolean): Boolean =
    Publish.file(fs, writerLeasePath,
      s"$writerUuid\n${System.currentTimeMillis()}\n$token\n", replaceExisting)

  private def readLease(fs: FileSystem): Lease.State =
    try {
      val in = fs.open(writerLeasePath)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      text.linesIterator.toList match {
        case uuid :: ts :: rest if uuid.trim.nonEmpty =>
          // token line absent in pre-r14 leases → 0 (steal bumps to 1)
          val tok = rest.headOption.flatMap(t => scala.util.Try(t.trim.toLong).toOption)
            .getOrElse(0L)
          scala.util.Try(Lease.Held(uuid.trim, ts.trim.toLong, tok): Lease.State)
            .getOrElse(Lease.Unreadable)
        case _ => Lease.Unreadable
      }
    } catch {
      case _: java.io.FileNotFoundException => Lease.Missing
      case _: java.io.IOException => Lease.Unreadable // fail closed on read errors
    }

  private def acquireLease(fs: FileSystem): Unit = {
    // bounded retry: claim races and HDFS delete+rename windows resolve
    // in ms; anything that still loops after 2 s is a genuine conflict
    val deadline = System.currentTimeMillis() + 2000L
    var claimToken = 1L
    while (true) {
      readLease(fs) match {
        case Lease.Missing =>
          // Claim = atomic publish + read-back confirm. The confirm is
          // what makes this safe on filesystems where rename overwrites
          // (local FS): two racers can both rename "successfully", but
          // only the writer whose uuid survives the read-back holds it.
          writeLease(fs, claimToken, replaceExisting = false)
          readLease(fs) match {
            case Lease.Held(u, _, tok) if u == writerUuid =>
              leaseToken = tok; leaseLost = false; return
            case _ => () // lost the claim race — loop re-reads the winner
          }
        case Lease.Held(uuid, _, tok) if uuid == writerUuid =>
          // our own crash residue from an earlier hold in this instance
          leaseToken = tok; leaseLost = false; return
        case Lease.Held(uuid, ts, _)
            if System.currentTimeMillis() - ts <= opts.writerLeaseTtlMs =>
          throw new IllegalStateException(
            s"$WriterConflict: ${opts.tablePath} is write-leased by $uuid " +
              s"(heartbeat ${System.currentTimeMillis() - ts} ms ago, " +
              s"ttl ${opts.writerLeaseTtlMs} ms)")
        case Lease.Held(_, _, tok) => // stale heartbeat: crashed writer — steal
          claimToken = math.max(claimToken, tok + 1)
          try fs.delete(writerLeasePath, false) catch { case _: java.io.IOException => () }
        // exists-but-unparsable is FRESH, not stealable (see Lease.Unreadable)
        case Lease.Unreadable =>
          throw new IllegalStateException(
            s"$WriterConflict: unreadable lease file on ${opts.tablePath} " +
              "treated as fresh (fail closed); delete it manually if the " +
              "holder is known dead")
      }
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(
          s"$WriterConflict: lost the lease race on ${opts.tablePath}")
    }
  }

  /** One heartbeat: refresh the lease ONLY if still ours. A holder that
    * stalled past ttl (GC pause, FS hang) and was legitimately stolen
    * from must not resume heartbeating over the new holder's lease —
    * the old unconditional rewrite did exactly that, re-creating the
    * split-brain. Package-visible so the spec can drive beats
    * deterministically. */
  private[graft] def leaseHeartbeatOnce(): Unit = {
    if (leaseLost) return
    val fs = tableFs
    readLease(fs) match {
      case Lease.Held(u, _, tok) if u == writerUuid =>
        writeLease(fs, tok, replaceExisting = true)
      case Lease.Held(u, _, _) => markLeaseLost(s"stolen by writer $u")
      case Lease.Missing => markLeaseLost("lease file vanished")
      case Lease.Unreadable => () // transient read glitch: retry next beat;
      // if it persists, our ts goes stale, a stealer claims, and the
      // next beat sees the foreign uuid → lost
    }
  }

  private def markLeaseLost(why: String): Unit = {
    leaseLost = true
    System.err.println(
      s"[graft] WARNING: writer lease on ${opts.tablePath} lost mid-verb ($why); " +
        "heartbeat stopped, destructive publishes in this verb will refuse " +
        s"with $WriterConflict")
  }

  /** Fencing check at destructive publish points (swaps, heals,
    * deletes): refuses once the heartbeat observed this hold was
    * lost. Cheap — a volatile read; the heartbeat thread is the lease
    * reader, every ttl/4. */
  private def assertLeaseHeld(): Unit =
    if (leaseLost)
      throw new IllegalStateException(
        s"$WriterConflict: writer lease on ${opts.tablePath} was lost mid-verb " +
          "(stolen after a stall past ttl); refusing destructive publish")
  private[graft] def assertLeaseHeldForTest(): Unit = assertLeaseHeld()

  /** Run `body` holding the writer lease (reentrant; heartbeats from
    * a daemon thread while held; released — if still ours — after). */
  private def withWriterLease[T](body: => T): T = {
    if (leaseDepth > 0) { leaseDepth += 1; try body finally leaseDepth -= 1 }
    else {
      val fs = tableFs
      acquireLease(fs)
      leaseDepth = 1
      val hb = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
        (r: Runnable) => { val t = new Thread(r, "graft-writer-lease-hb"); t.setDaemon(true); t })
      val period = math.max(1L, opts.writerLeaseTtlMs / 4)
      hb.scheduleAtFixedRate(
        () => try leaseHeartbeatOnce()
        catch { case _: java.io.IOException => () },
        period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
      try body
      finally {
        hb.shutdownNow()
        // Wait for an in-flight beat to finish: local-FS writes are not
        // interruptible, so an unawaited beat could re-publish the lease
        // AFTER the delete below — leaking a fresh-timestamped orphan
        // that blocks every writer for a full ttl.
        try hb.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
        catch { case _: InterruptedException => Thread.currentThread().interrupt() }
        leaseDepth = 0
        // release only a lease that is still ours — after a stall past
        // ttl another writer may have legitimately stolen it
        try {
          readLease(fs) match {
            case Lease.Held(u, _, _) if u == writerUuid && !leaseLost =>
              fs.delete(writerLeasePath, false)
            case _ => ()
          }
        } catch { case _: java.io.IOException => () }
        leaseLost = false
      }
    }
  }

  /** writeLock + writer lease — the destructive-verb entry gate. */
  private def mutate[T](body: => T): T =
    writeLock.synchronized(withWriterLease(body))

  def put(points: DataFrame): Map[String, Long] = put(points, driverHeld = false)

  /** `driverHeld`: `points` is the one partition the `Seq[Point]`
    * overload builds, so [[putClassified]] skips its shuffle by bucket. */
  private def put(points: DataFrame, driverHeld: Boolean): Map[String, Long] =
    writeLock.synchronized {
      ensureManifest(adopt = true)
      putClassified(classify(points), driverHeld)
    }

  // ------------------------------------------------------------------
  // Options manifest (dbase/dbase.go:56-74 — New validates Options
  // against what the on-disk layout was built with; a mismatched
  // reopen must fail loudly, not reinterpret bytes)
  // ------------------------------------------------------------------

  /** The four layout-defining options. maxHotBuckets / filesPerBucket
    * are operational tuning and may legally differ between opens. */
  private def layoutProps: Seq[(String, Long)] = Seq(
    "indexDepth" -> opts.indexDepth.toLong,
    "payloadSize" -> opts.payloadSize.toLong,
    "bucketDuration" -> opts.bucketDuration,
    "resolution" -> opts.resolution)

  private def manifestPath = new Path(s"${opts.tablePath}/_graft_options")
  @volatile private var manifestChecked = false

  /** Validate this engine's layout options against the table's
    * persisted manifest; on WRITE paths, adopt (write) the manifest if
    * the table predates it. Every data-touching entry point funnels
    * through here — put, reads (via table()), and the maintenance
    * paths (removeBefore / compaction), which rewrite or delete data
    * and were the most dangerous to leave unguarded — so a reopen with
    * a different indexDepth/payloadSize/bucketDuration/resolution
    * fails with [[EngineErrors.OptionsMismatch]] instead of silently
    * misreading the layout (wrong tag arity reads NULL tag columns; a
    * different resolution re-floors slots into the wrong grid).
    *
    * Fail-closed: a manifest missing any layout key, or with an
    * unparsable value, is a mismatch — a half-readable manifest must
    * never validate by omission. Read paths (adopt = false) never
    * mutate storage: a get() against a read-only mount stays a pure
    * read, and a premature reader cannot wedge table creation by
    * pinning its own options. Checked once per engine instance — the
    * manifest is immutable once written. */
  private def ensureManifest(adopt: Boolean): Unit = {
    if (manifestChecked) return
    val fs = tableFs

    def validateExisting(): Boolean = {
      if (!fs.exists(manifestPath)) return false
      val in = fs.open(manifestPath)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val found = text.linesIterator.flatMap { line =>
        line.split("=", 2) match {
          case Array(k, v) => scala.util.Try(k.trim -> v.trim.toLong).toOption
          case _           => None
        }
      }.toMap
      val bad = layoutProps.collect {
        case (k, v) if !found.get(k).contains(v) =>
          s"$k: table=${found.get(k).map(_.toString).getOrElse("<missing/corrupt>")} opts=$v"
      }
      if (bad.nonEmpty)
        throw new IllegalArgumentException(
          s"${EngineErrors.OptionsMismatch}: ${bad.mkString("; ")} (table ${opts.tablePath})")
      manifestChecked = true
      true
    }

    if (validateExisting()) return
    if (!adopt) return // pure read of a pre-manifest (or empty) table: nothing to check, nothing to write
    // Write path on a manifest-less table. Heal first: a crash in the
    // middle of rebucket's swap leaves the table root in trash, and
    // adopting here would recreate an empty root in its place.
    heal()
    if (validateExisting()) return
    // Adopt the current options, then REVALIDATE what is actually on
    // disk — POSIX rename replaces an existing destination, so two
    // racing first-contact writers cannot both silently "win":
    // whichever manifest survives is re-read, and the loser fails the
    // validate.
    if (!fs.exists(new Path(opts.tablePath)) && !fs.mkdirs(new Path(opts.tablePath)))
      throw new IllegalStateException(s"could not create table dir ${opts.tablePath}")
    Publish.file(fs, manifestPath, manifestBody(layoutProps), replace = false)
    if (!validateExisting())
      throw new IllegalStateException(s"could not publish options manifest $manifestPath")
  }

  private def manifestBody(props: Seq[(String, Long)]): String =
    props.map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n")

  /** The closed set of reasons [[classify]] can emit — the single-pass
    * ledger below enumerates them up front instead of discovering them
    * with a groupBy. */
  private val putReasons = Seq(Ok, InvalidTimestamp, InvalidIndexValues,
    InvalidPayload, InvalidSeq, WriteOnReadOnly)

  private def putClassified(classified: DataFrame, driverHeld: Boolean): Map[String, Long] = {
    // ONE pass for ledger AND write (r15, guide §1.2 step 1 / §1.4):
    // the write job itself carries a CollectMetrics (observe) node
    // BELOW the accept filter, so per-reason counts (a closed set) and
    // the accepted rows' min seq ride the single scan, and a
    // nondeterministic source is evaluated once. The batch publishes
    // only when the metrics show accepted rows.
    val obs = new org.apache.spark.sql.Observation()
    val ledgerMetrics = putReasons.map(r =>
      count(when(col("reason") === r, 1)).as(s"n_$r")) :+
      min(when(col("reason") === Ok, col("seq"))).as("min_ok_seq")
    val observed = classified.observe(obs, ledgerMetrics.head, ledgerMetrics.tail: _*)
    val accepted = observed.filter(col("reason") === Ok)
    val projected = accepted.select(
      col("slot_ns") +:
        tagCols.zipWithIndex.map { case (n, i) => element_at(col("tags"), i + 1).as(n) } :+
        col("payload") :+ col("seq") :+ col("bucket_ts"): _*)
    // Cluster rows by bucket before writing: without this, every
    // ingest task appends its own tiny file to EVERY bucket dir
    // (tasks × buckets small files per batch — the classic
    // write-amplification bug that quietly destroys read latency).
    // One shuffle keyed by bucket → ~filesPerBucket files per bucket
    // per batch; a series-hash subkey spreads bulk backfills over
    // multiple writer tasks per bucket when configured. A driver-held
    // batch is one partition, so its one task already writes one file
    // per bucket: the shuffle (a job of its own, plus AQE's re-plan)
    // would only coalesce it back to that same single task.
    val keyed =
      if (opts.filesPerBucket > 1) projected.repartition(col("bucket_ts"),
        pmod(hash(tagCols.map(col): _*), lit(opts.filesPerBucket)))
      else if (driverHeld) projected
      else projected.repartition(col("bucket_ts"))
    // Cluster rows by (series, slot) WITHIN each writer task: parquet
    // row-group min/max stats then prune single-series gets on fresh
    // ingest files, not just post-compaction rewrites (compaction
    // keeps its role of folding many batch files into one clustered
    // set). Leading with bucket_ts satisfies the file writer's own
    // partition-column sort requirement, so this is the ONLY sort —
    // the writer won't re-sort and the secondary order survives.
    val clustered = keyed.sortWithinPartitions(
      (col("bucket_ts") +: tagCols.map(col)) :+ col("slot_ns"): _*)
    val m = Publish.observed(tableFs, newBatchPath()) { p =>
      writeBatch(clustered, p); obs.get
    } { m =>
      val ok = m(s"n_$Ok").asInstanceOf[Long] > 0L
      // A write whose seq lands AT or BELOW the receipt chain's
      // watermark changes what that watermark resolves to (explicit
      // seqs are a supported ingest path) — break the chain so the
      // next exportDelta recomputes in full. Only consulted while a
      // chain state exists.
      if (ok) readReceiptState().foreach { case (w, _, _) =>
        Option(m("min_ok_seq")).foreach { mn =>
          if (mn.asInstanceOf[Long] <= w) invalidateReceiptState()
        }
      }
      ok
    }
    if (m.nonEmpty)
      putReasons.flatMap { r =>
        val n = m(s"n_$r").asInstanceOf[Long]
        if (n > 0L) Some(r -> n) else None
      }.toMap
    else
      // The metrics are absent only when the accepted side was runtime-
      // empty, so nothing was published: the write job provably
      // accepted nothing. The caller is still owed its reject counts;
      // a second evaluation may classify differently (nondeterministic
      // source), so whatever it calls Ok is forced to 0.
      classified.groupBy(col("reason")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap - Ok
  }

  /** A fresh batch dir `batch=<uuid>` — the unit every table write
    * publishes ([[Publish]]: staged invisibly, then ONE rename). Readers
    * can never observe a partial batch, concurrent writers (even
    * cross-JVM) never collide, and bucket_ts stays a discovered
    * partition column, so time pruning is unchanged. */
  private def newBatchPath(): Path =
    new Path(s"${opts.tablePath}/batch=${java.util.UUID.randomUUID().toString.replace("-", "")}")

  private def writeBatch(rows: DataFrame, dir: Path): Unit =
    rows.write.mode(SaveMode.Overwrite).partitionBy("bucket_ts").parquet(dir.toString)

  /** Publish `rows` as one new batch. */
  private def publishBatch(rows: DataFrame): Unit =
    Publish.dir(tableFs, newBatchPath())(writeBatch(rows, _))

  /** Batch ingest with ENGINE-ALLOCATED seqs: `points` carries only
    * (ts, tags, payload); every row gets a fresh seq from the same
    * monotone block allocator the driver-side put uses. This is the
    * ingest mode for callers WITHOUT their own total ingest order —
    * above all streaming epochs: seq is the engine's MVCC/epoch axis,
    * and every seq-watermark consumer (rollup refresh, receipt chain,
    * vector-index refresh) folds strictly ABOVE its watermark — a
    * caller supplying explicit seqs that are not monotone with
    * arrival (e.g. id-derived seqs across micro-batches) would leave
    * retro-seq rows permanently unfolded. Engine allocation makes
    * arrival order and seq order coincide by construction. Costs one
    * extra job over the cached batch (a per-partition sizing pass that
    * fixes each partition's seq offset) — the price of a dense,
    * gap-bounded block reservation. The batch's partitioning is
    * unknown, so its write keeps the shuffle by bucket. */
  def putAllocated(points: DataFrame): Map[String, Long] = writeLock.synchronized {
    val pts = points.select(col("ts"), col("tags"), col("payload")).persist()
    try {
      // r15: one per-partition sizing job over the cached batch (was
      // count() PLUS zipWithIndex's internal per-partition count — two
      // passes for one piece of information). The cache pins partition
      // sizes/order between the sizing pass and the attach pass, the
      // same guarantee zipWithIndex relied on.
      val rdd0 = pts.rdd
      val sizes = rdd0.mapPartitions(it => Iterator.single {
        var c = 0L; while (it.hasNext) { it.next(); c += 1L }; c
      }).collect()
      val n = sizes.sum
      if (n == 0L) return Map.empty
      val base = nextSeqBlock(n)
      val offsets = sizes.scanLeft(0L)(_ + _)
      val rdd = rdd0.mapPartitionsWithIndex { (pi, it) =>
        var next = base + offsets(pi)
        it.map { r =>
          val out = org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2), next)
          next += 1L
          out
        }
      }
      put(spark.createDataFrame(rdd, pointSchema))
    } finally pts.unpersist()
  }

  /** Driver-side convenience for tests / embedded use: seq is the
    * position in the call order, mirroring the reference's sequential
    * Put loop. The batch is already in driver memory, so it becomes
    * one partition and, unless filesPerBucket asks for more writers,
    * is written by one task in one job (see [[putClassified]]). */
  def put(points: Seq[Point]): Map[String, Long] = {
    val base = nextSeqBlock(points.size.toLong)
    val rows = points.zipWithIndex.map { case (p, i) =>
      org.apache.spark.sql.Row(p.ts, p.tags, p.payload, base + i)
    }
    put(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), pointSchema),
      driverHeld = true)
  }

  // Ingest sequence must keep increasing across engine instances or a
  // re-opened engine's writes would lose the LWW resolve against older
  // data (the reference cannot have this problem — positional
  // overwrite means the latest call always wins). Initialized lazily
  // from max(seq) on disk; parquet column stats make that cheap.
  // Each call reserves exactly `n` values, so arbitrarily large
  // batches can never overlap a later call's range.
  private val seqCounter = new java.util.concurrent.atomic.AtomicLong(-1L)
  private def nextSeqBlock(n: Long): Long = {
    if (seqCounter.get() < 0L) {
      // a write's first contact: heal and adopt before seeding, or a
      // table root a crashed rebucket left in trash would read as empty
      writeLock.synchronized(ensureManifest(adopt = true))
      val row = table().agg(max(col("seq"))).head()
      val start = if (row.isNullAt(0)) 0L else row.getLong(0) + 1L
      seqCounter.compareAndSet(-1L, start)
    }
    seqCounter.getAndAdd(math.max(n, 1L))
  }

  // ------------------------------------------------------------------
  // Read path
  // ------------------------------------------------------------------

  private def tableSchema: StructType = StructType(
    StructField("slot_ns", LongType) +:
      tagCols.map(StructField(_, StringType)) :+
      StructField("payload", BinaryType) :+
      StructField("seq", LongType) :+
      StructField("bucket_ts", LongType))

  /** Reader schema = row schema + both discovered partition levels. */
  private def readerSchema: StructType =
    StructType(tableSchema.fields :+ StructField("batch", StringType))

  /** Raw scan of the stored table; empty-schema DataFrame when nothing
    * has been written yet. bucket_ts comes back as a partition column,
    * so range predicates on it prune partitions before any IO; the
    * batch publish level is dropped here — no read path keys on it.
    * The schema is always supplied explicitly — never inferred — so an
    * empty table dir reads as empty instead of throwing 'Unable to
    * infer schema', and no footer-sampling job runs per read.
    *
    * Corrupt-read contract: a truncated or garbage parquet file in a
    * bucket dir (torn copy, disk fault — atomic publish makes torn
    * WRITES invisible, but nothing protects files damaged after
    * commit) must degrade, not kill every query that touches the
    * bucket: `ignoreCorruptFiles` skips files whose footer fails to
    * parse, the same recovery posture as the reference's index-log
    * load, which stops at the first invalid frame and serves the
    * prefix (mindex/mindex.go:185-240). [[corruptFiles]] names the
    * damage for repair. */
  private def table(): DataFrame = {
    ensureManifest(adopt = false)
    val fs = FileSystem.get(new java.net.URI(opts.dataDir), spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(opts.tablePath))) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tableSchema)
    } else spark.read.schema(readerSchema)
      .option("ignoreCorruptFiles", "true")
      .parquet(opts.tablePath).drop("batch")
  }

  /** Audit: data files under the table whose parquet footer fails to
    * parse — exactly the set reads are silently skipping. Pair with
    * reads the way the reference pairs its tolerant index-log load
    * with logging the truncation point (mindex/mindex.go:185-240):
    * tolerate on the serving path, surface on the ops path. Footer
    * reads only (no data pages); runs from the driver, which is fine
    * for per-bucket repair — sweep buckets in batches when auditing a
    * whole 100 TB table. */
  def corruptFiles(): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new java.net.URI(opts.dataDir), conf)
    val root = new Path(opts.tablePath)
    if (!fs.exists(root)) return Nil
    val bad = Seq.newBuilder[String]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (f.isFile && !name.startsWith("_") && !name.startsWith(".")) {
        try org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf)).close()
        catch { case scala.util.control.NonFatal(_) => bad += f.getPath.toString }
      }
    }
    bad.result()
  }

  /** THE last-writer-wins resolution, shared by every consumer (read
    * path, SQL view, compaction, export, checksums) so they cannot
    * de-synchronize: winner = max over (seq, payload). Partial-agg
    * friendly — the struct max combines map-side, so the one shuffle
    * moves a single row per key, not every write. The payload
    * tie-break matters: explicit-seq ingest can create duplicate
    * (series, slot, seq) rows with DIFFERENT payloads, and a
    * nondeterministic winner (max_by) would let compaction physically
    * keep a different row than the one a receipt checksummed or a
    * replica imported — a spurious 'diverged' alarm. */
  private[core] def lwwAgg(df: DataFrame, keys: Seq[Column]): DataFrame =
    df.groupBy(keys: _*)
      .agg(max(struct(col("seq"), col("payload"))).as("__w"))
      .select(keys :+ col("__w.payload").as("payload") :+
        col("__w.seq").as("seq"): _*)

  /** Read-path LWW per (series, slot) — [[lwwAgg]] minus the seq. */
  private def resolved(scan: DataFrame): DataFrame =
    lwwAgg(scan, tagCols.map(col) :+ col("slot_ns")).drop("seq")

  private def gridDf(start: Long, end: Long): DataFrame = {
    val n = (end - start) / opts.resolution
    spark.range(n).select((lit(start) + col("id") * opts.resolution).as("slot_ns"))
  }

  /** Exact-series dense read (dbase/dbase.go:161-231): floors the
    * range, validates (the asymmetric rule: `last = end - resolution`
    * is checked against now, so a range ending at now + resolution is
    * legal — dbase.go:166-170), then partition-pruned scan → LWW
    * resolve → left join onto the generated slot grid → zero payloads
    * for missing slots. Always returns exactly (end-start)/resolution
    * rows in slot order. */
  def get(start: Long, end: Long, tags: Seq[String]): DataFrame =
    getCore(start, end, tags, None)

  /** Snapshot (time-travel) read: the series exactly as it stood when
    * ingest sequence `asOfSeq` was the latest write — writes with
    * seq > asOfSeq are invisible. MVCC for free from the append-only
    * layout: every row carries its ingest seq, so a snapshot is one
    * extra pushed-down predicate, no version log or state reconstruction.
    * Caveat: compaction collapses per-key history to the latest write
    * (the stored seq becomes the max), so snapshots older than the
    * last compaction of a bucket see the compacted value or, if that
    * write is newer than asOfSeq, the zero payload — the same contract
    * as vacuuming old versions in any MVCC store. Use currentSeq()
    * to capture a snapshot watermark. */
  def getAsOf(start: Long, end: Long, tags: Seq[String], asOfSeq: Long): DataFrame =
    getCore(start, end, tags, Some(asOfSeq))

  private def getCore(start: Long, end: Long, tags: Seq[String],
      asOfSeq: Option[Long]): DataFrame = {
    val s0 = start - start % opts.resolution
    val e0 = end - end % opts.resolution
    val now = clock.nowNs
    if (s0 > now || (e0 - opts.resolution) > now || e0 < s0)
      throw new IllegalArgumentException(InvalidTimestamp)
    if (tags.size != opts.indexDepth)
      throw new IllegalArgumentException(InvalidIndexValues)

    val scan = asOfSeq.foldLeft(pruned(s0, e0))((df, sq) => df.filter(col("seq") <= sq))
    val tagPred = tagCols.zip(tags).map { case (c, v) => col(c) === v }
      .reduce(_ && _)
    val data = resolved(scan.filter(tagPred))
    gridDf(s0, e0)
      .join(data.select(col("slot_ns"), col("payload")), Seq("slot_ns"), "left_outer")
      .select(col("slot_ns"), coalesce(col("payload"), lit(zeroPayload)).as("payload"))
      .orderBy(col("slot_ns"))
  }

  /** Highest ingest sequence on disk (−1 when the table is empty): the
    * snapshot watermark for getAsOf/findAsOf. An aggregate scan of the
    * seq column over every batch file (two Spark jobs under AQE: the
    * partial aggregate, then the final one), not a statistics lookup —
    * keep it off per-epoch paths. */
  def currentSeq(): Long = {
    val row = table().agg(max(col("seq"))).head()
    if (row.isNullAt(0)) -1L else row.getLong(0)
  }

  /** Wildcard multi-series dense read (dbase/dbase.go:233-321): ""
    * matches any value at that tag position.
    * Series seen anywhere in range get a full dense zero-filled slab;
    * never-seen series are omitted (dbase.go:294-310). The grid join
    * is distinct-series × slots — broadcast the slot grid, never
    * shuffle it.
    *
    * Validation asymmetry vs get(): find checks the FLOORED end
    * against now (dbase.go:234-241 floors, then `end > now`), while
    * get checks `end - resolution` — so a range ending one resolution
    * past now is legal for get but rejected by find. */
  def find(start: Long, end: Long, tags: Seq[String]): DataFrame =
    findCore(start, end, tags, None)

  /** Snapshot variant of find — see getAsOf for the MVCC contract. */
  def findAsOf(start: Long, end: Long, tags: Seq[String], asOfSeq: Long): DataFrame =
    findCore(start, end, tags, Some(asOfSeq))

  private def findCore(start: Long, end: Long, tags: Seq[String],
      asOfSeq: Option[Long]): DataFrame = {
    val s0 = start - start % opts.resolution
    val e0 = end - end % opts.resolution
    val now = clock.nowNs
    if (s0 > now || e0 > now || e0 < s0)
      throw new IllegalArgumentException(InvalidTimestamp)
    if (tags.size != opts.indexDepth)
      throw new IllegalArgumentException(InvalidIndexValues)

    val scan = asOfSeq.foldLeft(pruned(s0, e0))((df, sq) => df.filter(col("seq") <= sq))
    val preds = tagCols.zip(tags).collect { case (c, v) if v.nonEmpty => col(c) === v }
    val data = resolved(preds.foldLeft(scan)(_ filter _))
    val series = data.select(tagCols.map(col): _*).distinct()
    val slots = series.crossJoin(broadcast(gridDf(s0, e0)))
    slots.join(data, tagCols :+ "slot_ns", "left_outer")
      .select((tagCols.map(col) :+ col("slot_ns") :+
        coalesce(col("payload"), lit(zeroPayload)).as("payload")): _*)
      .orderBy((tagCols.map(col) :+ col("slot_ns")): _*)
  }

  /** Partition-pruned slot-range scan: bucket_ts ∈ [firstBucket,
    * lastBucket] is a metadata-only prune (Catalyst partition
    * pruning); slot_ns bounds push into the parquet row-group stats. */
  private def pruned(s0: Long, e0: Long): DataFrame = {
    val bs = s0 - s0 % opts.bucketDuration
    val be = e0 - e0 % opts.bucketDuration
    table().filter(
      col("bucket_ts") >= bs && col("bucket_ts") <= be &&
        col("slot_ns") >= s0 && col("slot_ns") < e0)
  }

  // ------------------------------------------------------------------
  // RemoveBefore (dbase/dbase.go:323-364)
  // ------------------------------------------------------------------

  /** Retention: drop every bucket partition with baseTS < ts. Refuses
    * when ts reaches into the hot window (`min = nowBucket -
    * (maxHotBuckets-1)·bucketDuration; ts > min → ErrRemoveHotBucket`,
    * dbase.go:326-331). A directory delete per bucket — the parquet
    * analog of the reference's rm -rf, and a metadata-only partition
    * drop under a table format. */
  // writeLock: the ANN-index cascade below stages/swaps index dirs and
  // must not interleave with refresh/compact's own staging
  def removeBefore(ts: Long): Unit = mutate {
    ensureManifest(adopt = false) // destructive: a mismatched reopen must not compute the hot-window guard from wrong options
    val now = clock.nowNs
    val nowBucket = now - now % opts.bucketDuration
    val minHot = nowBucket - opts.bucketDuration * (opts.maxHotBuckets - 1)
    if (ts > minHot)
      throw new IllegalArgumentException("err_remove_hot_bucket")
    invalidateReceiptState() // dropped buckets change what past watermarks resolve to
    heal()
    // ANN-index cascade FIRST: a crash between the steps then leaves
    // the index missing rows the caller had already declared doomed
    // (under-serving, fixed by re-running the retention) rather than a
    // window where annSearch serves vectors the table no longer has.
    // The doom predicate matches the BUCKET-granular delete below —
    // retention drops whole bucket dirs with baseTS < ts, including
    // rows whose slot_ns is at-or-above ts inside the boundary bucket,
    // and those must leave the index too (they sit below the index
    // watermark, so no refresh would ever correct a miss here)
    filterVectorIndex(_ => floorBucket(col("slot_ns")) < ts)
    val fs = tableFs
    val root = new Path(opts.tablePath)
    if (!fs.exists(root)) return
    assertLeaseHeld() // fence: partition drops begin
    fs.listStatus(root).foreach { batch =>
      if (batch.getPath.getName.startsWith("batch=")) {
        fs.listStatus(batch.getPath).foreach { st =>
          val name = st.getPath.getName
          if (name.startsWith("bucket_ts=")) {
            val base = name.stripPrefix("bucket_ts=").toLong
            if (base < ts) fs.delete(st.getPath, true)
          }
        }
        // a batch whose buckets were all dropped contributes nothing
        if (fs.listStatus(batch.getPath).forall(!_.getPath.getName.startsWith("bucket_ts=")))
          fs.delete(batch.getPath, true)
      }
    }
  }

  /** Typed-payload view (SURVEY.md §1.5): the opaque fixed-size
    * payload decoded as a big-endian IEEE-754 double via the native
    * double_from_payload expression. Requires [[graft.plans.GraftExtensions]]
    * installed on the session (the expression stays in codegen — no
    * UDF). Zero payloads — the engine's NULL — decode to 0.0, exactly
    * the zero-fill semantic of the byte view. Only meaningful when the
    * engine's payloads ARE 8-byte doubles — any other payloadSize is a
    * caller error surfaced here, not a column of NULLs downstream. */
  def getDoubles(start: Long, end: Long, tags: Seq[String]): DataFrame = {
    require(opts.payloadSize == 8,
      s"getDoubles requires payloadSize=8 (engine has ${opts.payloadSize})")
    get(start, end, tags).withColumn("value",
      call_function("double_from_payload", col("payload")))
  }

  /** Typed wildcard read: find with the same double decode as
    * [[getDoubles]] — the multi-series typed view (every matched
    * series' dense slab, values as doubles, zero payloads → 0.0).
    * Same payloadSize contract. */
  def findDoubles(start: Long, end: Long, tags: Seq[String]): DataFrame = {
    require(opts.payloadSize == 8,
      s"findDoubles requires payloadSize=8 (engine has ${opts.payloadSize})")
    find(start, end, tags).withColumn("value",
      call_function("double_from_payload", col("payload")))
  }

  /** SQL doorway: register the LWW-resolved store as a temp view so
    * ad-hoc `spark.sql` reaches the engine directly — every committed
    * (series, slot) once, tag columns + slot_ns + payload, plus a
    * decoded `value` column when payloads are 8-byte doubles. The
    * view pins the batch-file listing at registration — a FILE-LEVEL
    * SNAPSHOT (batches published later are invisible until sqlView is
    * called again), which also keeps concurrent compaction from
    * yanking files mid-query in the common case. Tag and slot
    * predicates fold through the LWW aggregate's grouping keys into
    * the scan. No gap-fill — SQL users see stored points; the
    * dense-grid contract stays with get/find, where the range is
    * explicit. bucket_ts is
    * carried as an extra (functionally slot-dependent) group key so
    * it survives the LWW aggregate: filtering it prunes partitions
    * outright, and even a bare slot_ns range effectively prunes at
    * file granularity — every data file's slot stats lie inside its
    * bucket, so footer min/max skip whole buckets. */
  def sqlView(name: String): Unit = {
    ensureManifest(adopt = false)
    val base = lwwAgg(table(),
      (col("bucket_ts") +: tagCols.map(col)) :+ col("slot_ns")).drop("seq")
    val typed =
      if (opts.payloadSize == 8)
        base.withColumn("value", call_function("double_from_payload", col("payload")))
      else base
    typed.createOrReplaceTempView(name)
  }

  /** Series enumeration — the light read the reference's index trie
    * answers with a wildcard Find (mindex.go:126-168) minus the data:
    * distinct tag tuples seen in [start, end), optionally constrained
    * by a (possibly wildcard) tag pattern. One pruned scan projecting
    * ONLY the tag columns (column pruning keeps payloads on disk) and
    * one distinct shuffle of the narrow keys. */
  def series(start: Long, end: Long,
      tags: Seq[String] = Seq.fill(opts.indexDepth)("")): DataFrame = {
    val s0 = start - start % opts.resolution
    val e0 = end - end % opts.resolution
    if (e0 < s0) throw new IllegalArgumentException(InvalidTimestamp)
    if (tags.size != opts.indexDepth)
      throw new IllegalArgumentException(InvalidIndexValues)
    val scan = pruned(s0, e0)
    val preds = tagCols.zip(tags).collect { case (c, v) if v.nonEmpty => col(c) === v }
    preds.foldLeft(scan)(_ filter _)
      .select(tagCols.map(col): _*).distinct()
      .orderBy(tagCols.map(col): _*)
  }

  /** Per-bucket table statistics: rows, distinct series, slot range —
    * the operational view behind retention and compaction decisions.
    * One scan of the narrow (bucket, tags, slot) columns; counts are
    * partial-agg friendly. Row counts include superseded LWW
    * duplicates (they occupy storage — that is what compaction
    * decisions need); distinct series use approx_count_distinct
    * (exactness is not worth a second shuffle here). */
  def stats(): DataFrame = {
    table()
      .groupBy(col("bucket_ts"))
      .agg(count(lit(1)).as("rows"),
        approx_count_distinct(struct(tagCols.map(col): _*))
          .as("approx_series"),
        min(col("slot_ns")).as("min_slot_ns"),
        max(col("slot_ns")).as("max_slot_ns"),
        max(col("seq")).as("max_seq"))
      .orderBy(col("bucket_ts"))
  }

  /** Typed ingest convenience — the write-side twin of getDoubles:
    * encodes each value as the 8-byte big-endian IEEE-754 payload
    * double_from_payload decodes, so putDoubles→getDoubles roundtrips
    * bit-exactly. Same validation/LWW path as put. */
  def putDoubles(points: Seq[(Long, Seq[String], Double)]): Map[String, Long] = {
    require(opts.payloadSize == 8,
      s"putDoubles requires payloadSize=8 (engine has ${opts.payloadSize})")
    put(points.map { case (ts, tags, v) =>
      Point(ts, tags, java.nio.ByteBuffer.allocate(8).putDouble(v).array())
    })
  }

  /** Compact one bucket partition: materialize last-writer-wins so
    * reads stop paying the max_by resolve for that bucket. The
    * reference gets compaction for free (positional overwrite IS the
    * resolve, dblock/dblock.go:198-205); an append-only parquet store
    * accumulates superseded rows until compacted. Safe on cold buckets
    * (immutable); reads are unaffected either way because resolved()
    * is idempotent — compaction only changes how many rows the scan
    * feeds it. Returns (rowsBefore, rowsAfter).
    *
    * Crash-safe by construction under the atomic-batch layout:
    *  1. enumerate the bucket's dirs across committed batches;
    *  2. publish the LWW rewrite as a NEW batch;
    *  3. delete exactly the enumerated source dirs.
    * Every crash window leaves either the originals, or originals +
    * compacted copy — duplicate rows, which the LWW resolve renders
    * invisible to reads and the next compaction merges away. Nothing
    * is ever the only copy mid-swap, so no rename-aside dance and no
    * recovery protocol is needed. Writes racing the compaction are
    * safe too: a batch published after step 1 is not in the
    * enumeration, so step 3 cannot delete it. The engine writeLock
    * still serializes local put/compact so the two jobs don't contend
    * for resources, and the verb starts with a [[heal]].
    *
    * Known race (availability, not correctness): a concurrent reader
    * that planned its scan over the source files before step 3 fails
    * with FileNotFoundException when its tasks reach the deleted dirs.
    * No data is lost — re-running the query sees the compacted batch.
    * Readers that must tolerate concurrent compaction should set
    * spark.sql.files.ignoreMissingFiles=true (safe here: a vanished
    * source file's rows are, by step 2, already present in the
    * published compacted batch). */
  def compactBucket(baseTs: Long): (Long, Long) = mutate {
    // destructive rewrite: a mismatched tableSchema would silently drop
    // tag columns and collapse distinct series before deleting sources
    ensureManifest(adopt = false)
    invalidateReceiptState() // compaction drops superseded versions past watermarks still resolve
    heal()
    val fs = tableFs
    val sources = bucketDirs(fs, baseTs)
    if (sources.isEmpty) return (0L, 0L)
    // r15 single-pass: the before/after row counts (the return value)
    // ride the rewrite job as TWO observed metrics — one below the LWW
    // aggregation, one above it — instead of a separate scan count and
    // a post-publish footer count (3 jobs → 1 per bucket; compactCold
    // pays this per cold bucket).
    val obsBefore = new org.apache.spark.sql.Observation()
    val obsAfter = new org.apache.spark.sql.Observation()
    val scan = spark.read.schema(tableSchema.add("batch", StringType))
      .option("basePath", opts.tablePath)
      .parquet(sources.map(_.toString): _*)
      .drop("batch", "bucket_ts")
      .observe(obsBefore, count(lit(1)).as("before"))
    // Cluster the rewritten bucket by (series, slot): parquet row-group
    // min/max stats on the tag columns then actually prune — a Get for
    // one series reads ~one row group instead of scanning the bucket.
    // sortWithinPartitions (not orderBy): clustering needs no global
    // sort, and the agg's hash partitioning is left untouched.
    val compacted = lwwAgg(scan, tagCols.map(col) :+ col("slot_ns"))
      .select(col("slot_ns") +: tagCols.map(col) :+ col("payload") :+ col("seq"): _*)
      .observe(obsAfter, count(lit(1)).as("after"))
      .sortWithinPartitions((tagCols.map(col) :+ col("slot_ns")): _*)
      .withColumn("bucket_ts", lit(baseTs))
    // absent metrics (a 0-row bucket) publish nothing and prove 0
    val m = Publish.observed(fs, newBatchPath()) { p =>
      writeBatch(compacted, p); obsBefore.get ++ obsAfter.get
    }(_ => true)
    assertLeaseHeld() // fence: irreversible from here (source deletes)
    dropBucketDirs(fs, sources)
    (m.getOrElse("before", 0L).asInstanceOf[Long], m.getOrElse("after", 0L).asInstanceOf[Long])
  }

  /** Delete committed bucket dirs, and each batch dir left without a
    * bucket. */
  private def dropBucketDirs(fs: FileSystem, dirs: Seq[Path]): Unit =
    dirs.foreach { p =>
      fs.delete(p, true)
      val parent = p.getParent
      if (fs.exists(parent) &&
        fs.listStatus(parent).forall(!_.getPath.getName.startsWith("bucket_ts=")))
        fs.delete(parent, true)
    }

  /** Maintenance sweep: compact every bucket that has left the hot
    * window (mirrors the reference's hot→cold transition,
    * dbase/dbase.go:403-424, where a bucket going cold becomes the
    * immutable read-optimized form). Run after retention or on a
    * schedule — it folds accumulated ingest batches (one dir per
    * micro-batch under streaming) into one clustered file set per
    * bucket. Returns per-bucket (rowsBefore, rowsAfter); buckets
    * already compact still rewrite, so schedule on cadence, not every
    * trigger. */
  def compactCold(): Map[Long, (Long, Long)] = {
    coldBucketsOnDisk().map(b => b -> compactBucket(b)).toMap
  }

  /** Right-to-erasure: physically remove every point whose tag tuple
    * matches `tags` — Find's wildcard semantics, "" matches any value
    * at that position — from EVERY bucket, hot and cold, and from the
    * continuous-aggregate deltas. The one maintenance path that
    * overrides the hot/cold write rules: erasure law does not wait
    * for a bucket to go cold. At least one position must be concrete;
    * the accidental "erase everything" is refused (retention is
    * [[removeBefore]]'s job and stays separately guarded).
    *
    * Beyond the reference: kdb can only drop whole buckets
    * (dbase/dbase.go:323-364); per-series hard deletion is what a
    * training-data governance pipeline actually needs (user opt-out /
    * GDPR Art. 17) — and with tag-clustered files (ingest sort +
    * compaction clustering) the candidate scan prunes by parquet
    * row-group stats, so untouched buckets cost one footer read and
    * are NOT rewritten.
    *
    * Survivor rows are rewritten verbatim (raw seq history kept — no
    * LWW resolution happens here, so a later compaction behaves
    * identically); a bucket left empty loses its partition like
    * retention. Rollup deltas are filtered in place by a [[Publish]]
    * swap, preserving each delta's seq-range NAME — the watermark
    * chain stays intact because those seqs WERE folded; the erased
    * series simply no longer contributes rows. While a crashed swap
    * leaves a delta missing, [[rollupCover]] fails loudly until the
    * next heal puts it back.
    *
    * Returns (per-bucket (rowsBefore, rowsAfter) for rewritten
    * buckets, rollup partial rows removed). Erasure of a tag tuple
    * with no data returns an empty map — idempotent by construction. */
  def erase(tags: Seq[String]): (Map[Long, (Long, Long)], Long) = mutate {
    ensureManifest(adopt = false)
    if (tags.size != opts.indexDepth)
      throw new IllegalArgumentException(InvalidIndexValues)
    if (tags.forall(_.isEmpty))
      throw new IllegalArgumentException(
        "erase requires at least one concrete tag (full-table wipe is removeBefore's job)")
    invalidateReceiptState() // physical removal cannot ride the receipt chain
    heal()
    val fs = tableFs
    val preds = tagCols.zip(tags).collect { case (c, v) if v.nonEmpty => col(c) === v }
    // ANN-index cascade first (erasure law reaches derived data too);
    // crash direction argument as in removeBefore — under-serve an
    // already-doomed series, never serve an erased one
    filterVectorIndex(_ => preds.reduce(_ && _))
    def matching(df: DataFrame) = preds.foldLeft(df)(_ filter _)
    def surviving(df: DataFrame) =
      df.filter(!preds.reduce(_ && _))
    // candidate buckets via pushed-down tag predicates: one row per
    // affected bucket — row-group stats skip clustered cold files
    val hit = matching(table())
      .groupBy(col("bucket_ts")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rewritten: Map[Long, (Long, Long)] =
      if (hit.isEmpty) Map.empty
      else {
        // ONE rewrite job for every affected bucket, not a job per
        // bucket: publishBatch partitions by bucket_ts, so all
        // survivors land in one atomic batch publish — at 1000
        // buckets that is 3 Spark jobs instead of ~2000. Crash
        // contract: after the publish and before the source deletes,
        // survivors exist twice (LWW-invisible identical copies) and
        // the erased rows still exist — erasure completes by
        // re-running erase, which is idempotent.
        val sources = hit.keys.toSeq.sorted.flatMap(b => bucketDirs(fs, b))
        val scan = spark.read.schema(tableSchema.add("batch", StringType))
          .option("basePath", opts.tablePath)
          .parquet(sources.map(_.toString): _*)
          .drop("batch")
        val before = scan.groupBy(col("bucket_ts")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val survivors = surviving(scan)
        if (hit.exists { case (b, n) => before(b) > n })
          publishBatch(survivors)
        assertLeaseHeld() // fence: irreversible from here (source deletes)
        dropBucketDirs(fs, sources)
        hit.map { case (b, nMatch) => b -> (before(b), before(b) - nMatch) }
      }
    // cascade into every rollup delta that holds matching partials
    var rollupRemoved = 0L
    rollupDeltas(fs).foreach { case (dir, _, _) =>
      // basePath defaults to the delta dir itself: only bucket_ts= is
      // discovered as a partition (a rollupPath basePath would surface
      // the delta= level as a phantom column and corrupt the rewrite)
      val delta = spark.read.schema(rollupSchema).parquet(dir.toString)
      val n = matching(delta).count()
      if (n > 0) {
        rollupRemoved += n
        Publish.dir(fs, dir, replace = true, fence = fenced) { p =>
          surviving(delta).write.mode(SaveMode.Overwrite)
            .partitionBy("bucket_ts").parquet(p.toString)
        }
      }
    }
    (rewritten, rollupRemoved)
  }

  /** Roll the store BACK to an MVCC watermark — time travel promoted
    * from a read view ([[findAsOf]]/[[getAsOf]]) to a write
    * operation, the lakehouse RESTORE verb: every accepted write with
    * seq > asOfSeq is physically removed, so afterwards find()/get()
    * answer exactly what findAsOf(asOfSeq)/getAsOf(asOfSeq) answered
    * before. The undo for a bad ingest batch.
    *
    * Mechanics mirror [[erase]]'s rewrite (row-level filter, never
    * whole-file drops — compaction may have merged rows across the
    * watermark into one file): candidate buckets come from a
    * pushed-down `seq > asOfSeq` scan (immutable batch files carry
    * tight seq ranges, so row-group stats skip every fully-old
    * batch), survivors republish as ONE atomic batch, then the old
    * bucket dirs drop. Crash contract: between publish and source
    * delete, survivors exist twice as LWW-invisible identical copies
    * and the doomed rows still exist — re-running rollbackTo
    * completes the job; it is idempotent.
    *
    * Rollup cascade: every delta whose folded seq range reaches past
    * the watermark is dropped — by construction that is a SUFFIX of
    * the delta chain, so [[rollupCover]] stays valid and the next
    * [[refreshRollup]] re-folds the surviving rows from the cut
    * point. (Contrast erase, which filters deltas in place: here the
    * folded ranges themselves are wrong, not just one series.) The
    * deltas are dropped BEFORE the raw buckets are rewritten, so a
    * crash between the steps leaves rollup() missing-but-honest
    * (under-covered, re-foldable) rather than serving aggregates
    * that include rows find() already excludes.
    *
    * Seq discipline: this INSTANCE keeps allocating above the old
    * maximum (no in-process reuse, so a held asOfSeq stays
    * unambiguous); an engine reopened later re-seeds from max(seq)
    * on disk and reuses the rolled-back range — rewriting history is
    * the point.
    *
    * Returns per-bucket (rowsBefore, rowsAfter) for rewritten
    * buckets; empty map when nothing is newer than the watermark
    * (idempotent). */
  def rollbackTo(asOfSeq: Long): Map[Long, (Long, Long)] = mutate {
    ensureManifest(adopt = false)
    if (asOfSeq < 0)
      throw new IllegalArgumentException("rollbackTo: asOfSeq must be >= 0")
    invalidateReceiptState() // history rewrite breaks the receipt chain
    heal()
    val fs = tableFs
    val hit = table().filter(col("seq") > asOfSeq)
      .groupBy(col("bucket_ts")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Drop affected rollup deltas BEFORE the raw rewrite: a crash
    // between the two steps then leaves MISSING aggregates (the next
    // refreshRollup re-folds survivors) rather than a window where
    // rollup() serves sums that still include rolled-back rows that
    // find() already excludes.
    assertLeaseHeld() // fence: cascade drops begin
    rollupDeltas(fs).foreach { case (dir, _, hi) =>
      if (hi > asOfSeq) fs.delete(dir, true)
    }
    // ANN-index cascade: drop the chain suffix past the watermark
    // (same ordering argument as the rollup deltas above)
    rollbackVectorIndex(asOfSeq)
    val rewritten: Map[Long, (Long, Long)] =
      if (hit.isEmpty) Map.empty
      else {
        val sources = hit.keys.toSeq.sorted.flatMap(b => bucketDirs(fs, b))
        val scan = spark.read.schema(tableSchema.add("batch", StringType))
          .option("basePath", opts.tablePath)
          .parquet(sources.map(_.toString): _*)
          .drop("batch")
        val before = scan.groupBy(col("bucket_ts")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        if (hit.exists { case (b, n) => before(b) > n })
          publishBatch(scan.filter(col("seq") <= asOfSeq))
        dropBucketDirs(fs, sources)
        hit.map { case (b, n) => b -> (before(b), before(b) - n) }
      }
    rewritten
  }

  /** Bucket-duration migration — the layout evolution the options
    * manifest makes safe to even attempt. Re-routes every committed
    * row (LWW history intact: raw rows carry their seq, nothing is
    * resolved away) into buckets floored by `newBucketDuration`,
    * builds the COMPLETE new table — data plus updated manifest — and
    * swaps it in whole ([[Publish]]). Use when the original bucket
    * width stops matching the data (buckets too small → partition-dir
    * explosion; too big → poor pruning and oversized compactions).
    *
    * Returns the options to REOPEN with. This instance is invalid
    * afterwards by design — its opts no longer match the on-disk
    * manifest, so every subsequent call fails with
    * [[EngineErrors.OptionsMismatch]] rather than misrouting writes.
    *
    * While a crashed swap leaves the table root missing, the next
    * heal (any destructive verb, or a put's first contact) puts the
    * old table back. Like compaction, concurrent readers mid-swap can
    * see FileNotFound and must re-run; there is no data-loss window. */
  def rebucket(newBucketDuration: Long): EngineOptions = mutate {
    ensureManifest(adopt = false)
    require(newBucketDuration > 0 && newBucketDuration % opts.resolution == 0,
      "newBucketDuration must be a positive multiple of resolution")
    val newOpts = opts.copy(bucketDuration = newBucketDuration)
    if (newBucketDuration == opts.bucketDuration) return newOpts
    invalidateReceiptState() // layout rewrite: conservative chain break
    val fs = tableFs
    val root = new Path(opts.tablePath)
    if (!fs.exists(root)) return newOpts // nothing to migrate
    val rows = table()
      .select(col("slot_ns") +: tagCols.map(col) :+ col("payload") :+ col("seq"): _*)
      .withColumn("bucket_ts", col("slot_ns") - col("slot_ns") % newBucketDuration)
    Publish.dir(fs, root, replace = true, fence = fenced) { p =>
      writeBatch(rows.repartition(col("bucket_ts"))
        .sortWithinPartitions((col("bucket_ts") +: tagCols.map(col)) :+ col("slot_ns"): _*),
        new Path(p, newBatchPath().getName))
      val mf = fs.create(new Path(p, "_graft_options"), true)
      try mf.write(manifestBody(layoutProps.map {
        case ("bucketDuration", _) => "bucketDuration" -> newBucketDuration
        case kv => kv
      }).getBytes("UTF-8"))
      finally mf.close()
    }
    manifestChecked = false // this instance's opts are now stale — fail loudly from here on
    newOpts
  }

  /** Export a consistent point-in-time snapshot — every series,
    * LWW-resolved at `asOfSeq` — as a plain bucket-partitioned parquet
    * table under `outDir`. This is the frozen-training-set / backup
    * story: the MVCC watermark ([[currentSeq]] / [[getAsOf]]) already
    * defines a consistent cut of the append-only layout, and the
    * export materializes that cut where later writes can never reach
    * it (reproducible ML runs pin the snapshot dir, not the live
    * table). One LWW shuffle + one bucket-keyed write, same fan-out
    * discipline as ingest. Returns the exported row count (from
    * parquet footers, no second scan). */
  def exportSnapshot(asOfSeq: Long, outDir: String): Long =
    exportDelta(Long.MinValue, asOfSeq, outDir)

  /** Export the LWW-resolved DELTA between two MVCC watermarks —
    * every (series, slot) written with `fromSeqExclusive < seq ≤
    * toSeqInclusive`, each carrying its in-range winning payload and
    * seq — as the same bucket-partitioned parquet layout
    * [[exportSnapshot]] produces. This is incremental replication
    * (primary → replica sync, the feature the reference's
    * single-node design never needs): a replica that has applied
    * every delta chain `(w₀,w₁], (w₁,w₂], …` via [[importSnapshot]]
    * holds exactly the primary's LWW world at the last watermark —
    * rows keep their seq, so cross-delta overwrites of the same
    * (series, slot) resolve at the replica by the same LWW rule the
    * primary uses, and the replica's [[currentSeq]] advances to the
    * primary's watermark. LIMITATION — deltas are state-based and
    * cannot represent physical REMOVALS: an [[erase]],
    * [[removeBefore]] or [[rollbackTo]] on the primary between
    * watermarks leaves the replica holding rows the primary deleted,
    * and no later delta repairs that. Every export therefore embeds a
    * consistency receipt (`_graft_receipt`: the primary's LWW
    * row-count + order-independent xxhash64-XOR checksum at the
    * watermark); the receipt is maintained incrementally along a sync
    * chain — O(delta), not O(table), per cycle; see
    * [[incrementalChecksum]] — and recomputed in full whenever the
    * chain breaks. The replica calls
    * [[verifyReceipt]] after each import and MUST full re-sync
    * ([[exportSnapshot]] → fresh import) when it fails — which is
    * exactly what any destructive maintenance verb on the primary
    * makes it do, loudly instead of silently diverging. Shipping the range-resolved delta (not raw
    * history) is the bandwidth-optimal choice: superseded
    * intermediate versions inside one sync interval never cross the
    * wire, while every delta-boundary watermark stays a consistent
    * [[findAsOf]] cut on the replica. The seq filter is a pushed-down
    * parquet predicate, so row-group stats prune cold files whose seq
    * range predates the delta; otherwise one LWW shuffle + one
    * bucket-keyed write, the ingest fan-out discipline. Returns the
    * exported row count (from parquet footers, no second scan).
    *
    * Runs under the engine writeLock: the read-chain-state → compute →
    * write-chain-state sequence below must not interleave with a
    * retro-seq put's invalidateReceiptState() — an unlocked export
    * could re-seed a chain that never folds in the retro write, and
    * since deltas only ship seq > fromSeq the divergence would never
    * surface in any later receipt (TOCTOU). */
  def exportDelta(fromSeqExclusive: Long, toSeqInclusive: Long, outDir: String): Long = mutate {
    // from == to is a routine no-op sync cycle (no new writes since
    // the last watermark) and produces a valid empty delta; only an
    // inverted range is a caller bug.
    require(fromSeqExclusive <= toSeqInclusive,
      s"exportDelta: inverted seq range ($fromSeqExclusive, $toSeqInclusive]")
    ensureManifest(adopt = false)
    // r15 single-pass: the delta's receipt inputs — row count, XOR
    // checksum term, slot min/max for the prior lookup's prune — ride
    // the WRITE job as observed metrics instead of a second read-back
    // aggregation, and the returned row count comes from the same
    // metrics instead of a footer-count job (guide §1.2 step 1).
    val hNames = (tagCols :+ "slot_ns" :+ "seq" :+ "payload").mkString(", ")
    val obs = new org.apache.spark.sql.Observation()
    val resolvedRows = lwwAgg(
      table().filter(col("seq") > fromSeqExclusive && col("seq") <= toSeqInclusive),
      tagCols.map(col) :+ col("slot_ns"))
      .withColumn("bucket_ts", floorBucket(col("slot_ns")))
      .observe(obs,
        count(lit(1)).as("n"),
        expr(s"coalesce(bit_xor(xxhash64($hNames)), 0L)").as("x"),
        min(col("slot_ns")).as("lo"), max(col("slot_ns")).as("hi"))
    resolvedRows.repartition(col("bucket_ts"))
      .sortWithinPartitions((col("bucket_ts") +: tagCols.map(col)) :+ col("slot_ns"): _*)
      .write.mode(SaveMode.ErrorIfExists).partitionBy("bucket_ts").parquet(outDir)
    // an EMPTY delta (routine no-op sync cycle) can lose its metrics
    // to AQE empty-relation propagation — which itself proves n = 0
    val m = obs.get
    val nDelta = m.get("n").map(_.asInstanceOf[Long]).getOrElse(0L)
    // Consistency receipt: primary's LWW world (count, checksum) at
    // the watermark — `_`-prefixed so parquet readers skip it. A sync
    // LOOP must not pay a full-table checksum per cycle, so the
    // receipt is maintained INCREMENTALLY when the chain state at
    // `fromSeqExclusive` is on disk (O(delta) + a slot-pruned prior
    // lookup); any break in the chain — first export, destructive
    // verb, retro-seq put, out-of-order watermark — falls back to one
    // full [[lwwChecksum]] and re-seeds the chain. The incremental
    // path re-reads the just-written delta for its KEY columns only
    // (the semi-join side); counts/hash/range come from the metrics.
    val (rcRows, rcHash) = readReceiptState() match {
      case Some((w, pr, ph)) if w == fromSeqExclusive =>
        // explicit schema: a row-empty delta writes only _SUCCESS, and
        // a schema-less parquet read of it would fail instead of
        // reading 0 rows (importSnapshot reads the same way)
        val deltaBack = spark.read.schema(tableSchema).parquet(outDir)
        incrementalChecksum(fromSeqExclusive, deltaBack, pr, ph,
          nDelta, m.get("x").map(_.asInstanceOf[Long]).getOrElse(0L),
          m.get("lo").flatMap(Option(_)).map(_.asInstanceOf[Long]),
          m.get("hi").flatMap(Option(_)).map(_.asInstanceOf[Long]))
      case _ => lwwChecksum(toSeqInclusive)
    }
    writeReceiptState(toSeqInclusive, rcRows, rcHash)
    // a replica listing the delta dir mid-create must see either no
    // receipt (argument error) or a complete one
    val rdst = new Path(s"$outDir/_graft_receipt")
    if (!Publish.file(rdst.getFileSystem(spark.sparkContext.hadoopConfiguration), rdst,
        s"watermark=$toSeqInclusive\nrows=$rcRows\nhash=$rcHash\n", replace = true))
      throw new IllegalStateException(s"exportDelta: could not publish receipt $rdst")
    nDelta
  }

  // ------------------------------------------------------------------
  // Replication receipt chain state: (watermark, rows, hash) of the
  // last receipt, persisted in the table dir so a sync loop's next
  // exportDelta can roll the checksum forward from the delta instead
  // of re-scanning the whole table. Any operation that rewrites
  // history out from under the chain (destructive verbs, compaction
  // dropping superseded versions a past watermark still needs,
  // imports/retro-seq puts landing below the watermark) DELETES the
  // state — the next export recomputes in full and re-seeds.
  // ------------------------------------------------------------------

  private def receiptStatePath = new Path(s"${opts.tablePath}/_graft_receipt_state")

  private def tableFs: FileSystem =
    new Path(opts.tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (watermark, rows, hash) of the last receipt, or None when absent
    * or unparseable — a corrupt state file is treated as a broken
    * chain (full recompute), never an error. */
  private def readReceiptState(): Option[(Long, Long, Long)] = {
    val fs = tableFs
    if (!fs.exists(receiptStatePath)) None
    else scala.util.Try {
      val in = fs.open(receiptStatePath)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val kv = text.linesIterator.filter(_.contains("="))
        .map { l => val Array(k, v) = l.split("=", 2); k -> v.trim.toLong }.toMap
      (kv("watermark"), kv("rows"), kv("hash"))
    }.toOption
  }

  private def writeReceiptState(w: Long, rows: Long, hash: Long): Unit =
    Publish.file(tableFs, receiptStatePath, s"watermark=$w\nrows=$rows\nhash=$hash\n",
      replace = true)

  /** Break the receipt chain: the next exportDelta recomputes the
    * checksum in full. Called by every verb that changes what a PAST
    * watermark resolves to. */
  private def invalidateReceiptState(): Unit = {
    val fs = tableFs
    if (fs.exists(receiptStatePath)) fs.delete(receiptStatePath, false)
  }

  /** Roll the LWW checksum forward across one delta: the world at the
    * new watermark differs from the chained one ONLY at the delta's
    * (series, slot) keys, so
    * `hash' = hash ⊕ XOR(prior winners of touched keys) ⊕ XOR(new
    * winners)` and `rows' = rows + |new keys|`. The prior-winner
    * lookup is the only table read, pruned to the delta's slot/bucket
    * range and semi-joined to its keys — O(buckets the delta touches),
    * not O(table). XOR cancellation is safe for the same reason
    * [[lwwChecksum]]'s is: winners are unique per key on each side.
    *
    * Caveat: `nNew`/`xNew` are the export write job's observed metrics
    * (CollectMetrics accumulators), which Spark does not guarantee to
    * count exactly once when a stage is retried or speculated. Local
    * sessions never retry, but on a cluster a retried stage can fold a
    * partition's count and XOR term twice into the chain, and the
    * receipt then no longer matches the primary. [[verifyReceipt]] is
    * the read-back check to use on clusters: it recomputes the
    * replica's checksum from the rows it holds, so a miscounted
    * receipt fails it (a divergence alarm whose remedy, a full
    * re-sync, also re-seeds the chain). Run it after every import. */
  private def incrementalChecksum(fromSeq: Long, deltaDf: DataFrame,
      prevRows: Long, prevHash: Long,
      nNew: Long, xNew: Long, loOpt: Option[Long], hiOpt: Option[Long]): (Long, Long) = {
    // r15: the delta's own (count, xor, slot range) arrive as the
    // export write's observed metrics — the only job left here is the
    // slot-pruned prior-winner lookup.
    val hcols = (tagCols.map(col) :+ col("slot_ns") :+ col("seq") :+ col("payload"))
    if (nNew == 0L) return (prevRows, prevHash)
    val (lo, hi) = (loOpt.get, hiOpt.get) // nNew > 0 implies a real range
    val keyNames = tagCols :+ "slot_ns"
    val prior = table()
      .filter(col("seq") <= fromSeq &&
        col("slot_ns") >= lo && col("slot_ns") <= hi &&
        col("bucket_ts") >= (lo - lo % opts.bucketDuration) &&
        col("bucket_ts") <= (hi - hi % opts.bucketDuration))
      .join(deltaDf.select(keyNames.map(col): _*).distinct(), keyNames, "left_semi")
    val pr = lwwAgg(prior, keyNames.map(col))
      .select(xxhash64(hcols: _*).as("h"))
      .agg(count(lit(1)).as("n"), expr("coalesce(bit_xor(h), 0L)").as("x"))
      .head()
    val (nPrior, xPrior) = (pr.getLong(0), pr.getLong(1))
    (prevRows + nNew - nPrior, prevHash ^ xPrior ^ xNew)
  }

  /** Order-independent checksum of the LWW-resolved world at
    * `asOfSeq`: (row count, XOR of per-row xxhash64 over
    * tags|slot|seq|winning payload). XOR is commutative and
    * overflow-free, and post-LWW rows are unique per (series, slot),
    * so no duplicate-cancellation hazard; one map-side-combinable
    * shuffle, the [[find]] resolution cost. This is the primitive
    * behind the replication receipt ([[exportDelta]] /
    * [[verifyReceipt]]) and a cheap primary↔replica audit on its
    * own. The winner is the max over (seq, payload) — deterministic
    * even for duplicate-seq ingests, so a receipt can never flag a
    * spurious divergence over a tie both sides hold. */
  def lwwChecksum(asOfSeq: Long): (Long, Long) = {
    ensureManifest(adopt = false)
    val resolved = lwwAgg(table().filter(col("seq") <= asOfSeq),
      tagCols.map(col) :+ col("slot_ns"))
    val r = resolved
      .select(xxhash64((tagCols.map(col) :+ col("slot_ns") :+ col("seq") :+
        col("payload")): _*).as("h"))
      .agg(count(lit(1)).as("n"), expr("coalesce(bit_xor(h), 0L)").as("x"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Replica-side divergence check against the `_graft_receipt` an
    * [[exportDelta]]/[[exportSnapshot]] wrote: recomputes THIS
    * engine's [[lwwChecksum]] at the receipt's watermark and throws
    * [[IllegalStateException]] on any mismatch — the loud signal
    * that the primary ran a destructive verb (erase / removeBefore /
    * rollbackTo) since the last sync and the replica needs a full
    * re-sync, state-based deltas being unable to carry removals.
    * Returns the verified (rows, hash) on success. */
  def verifyReceipt(srcDir: String): (Long, Long) = {
    ensureManifest(adopt = false)
    // the receipt lives in the CALLER-SUPPLIED delta dir, which may be
    // on a different filesystem than this engine's data dir
    val fs = new Path(srcDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(s"$srcDir/_graft_receipt")
    if (!fs.exists(p))
      throw new IllegalArgumentException(s"verifyReceipt: no _graft_receipt in $srcDir")
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    // a truncated/garbled receipt is an argument error (re-fetch the
    // delta), not a NumberFormat/NoSuchElement leak
    val (w, rows, hash) = scala.util.Try {
      val kv = text.linesIterator.filter(_.contains("="))
        .map { l => val Array(k, v) = l.split("=", 2); k -> v.trim.toLong }.toMap
      (kv("watermark"), kv("rows"), kv("hash"))
    }.getOrElse(throw new IllegalArgumentException(
      s"verifyReceipt: corrupt _graft_receipt in $srcDir"))
    val (n, h) = lwwChecksum(w)
    if (n != rows || h != hash)
      throw new IllegalStateException(
        s"verifyReceipt: replica diverged from primary at watermark $w " +
          s"(rows $n vs $rows, hash $h vs $hash) — a destructive verb on the " +
          "primary cannot ride a delta; full re-sync required " +
          "(exportSnapshot -> fresh importSnapshot)")
    (n, h)
  }

  /** Restore a snapshot produced by [[exportSnapshot]] into THIS
    * engine's table as ONE atomic batch publish — the other half of
    * the backup / frozen-training-set story (export pins a
    * consistent cut; import stands a serving engine back up from
    * it). The snapshot is validated against this engine's layout
    * first — slot alignment to resolution, bucket agreement, payload
    * size, tag arity/emptiness, seq sanity — and the import REFUSES
    * wholesale on the first violation: a restore is all-or-nothing,
    * never a partial adopt of a foreign layout (the
    * `_graft_options` fail-closed philosophy applied to data). Rows
    * keep their original seq values, so [[currentSeq]] and the
    * [[getAsOf]] MVCC watermark continue from the snapshot's cut,
    * and importing into a non-empty table behaves exactly like any
    * other historical batch (LWW resolves overlaps by seq). One
    * bucket-partitioned publish whose write job carries the
    * validation counts. Returns the imported row count. */
  def importSnapshot(srcDir: String): Long = mutate {
    ensureManifest(adopt = false)
    val snap = spark.read.schema(tableSchema).parquet(srcDir)
    // r15 single-pass: the layout-validation counts ride the staged
    // write as observed metrics instead of a separate full scan; any
    // violation (or an empty snapshot) discards the staged batch.
    val obs = new org.apache.spark.sql.Observation()
    val checked = snap.observe(obs,
      count(lit(1)).as("n"),
      count(when(col("slot_ns") % opts.resolution =!= 0, 1)).as("misaligned"),
      count(when(floorBucket(col("slot_ns")) =!= col("bucket_ts"), 1)).as("misplaced"),
      count(when(octet_length(col("payload")) =!= opts.payloadSize ||
        col("payload").isNull, 1)).as("invalid_payload"),
      count(when(tagCols.map(c => col(c).isNull || col(c) === "").reduce(_ || _), 1))
        .as("invalid_tags"),
      count(when(col("seq").isNull || col("seq") < 0, 1)).as("invalid_seq"))
    // absent metrics (an empty snapshot) prove n = 0 and no violations
    Publish.observed(tableFs, newBatchPath()) { p =>
      writeBatch(checked.select(tableSchema.fieldNames.map(col): _*), p); obs.get
    } { m =>
      val bad = Seq("misaligned", "misplaced", "invalid_payload",
        "invalid_tags", "invalid_seq")
        .collect { case name if m(name).asInstanceOf[Long] > 0 => s"$name=${m(name)}" }
      if (bad.nonEmpty)
        throw new IllegalArgumentException(
          s"importSnapshot: snapshot violates this engine's layout (${bad.mkString(", ")})")
      val publish = m("n").asInstanceOf[Long] > 0
      // imported rows keep their original (possibly past-watermark)
      // seqs: they can change what a chained watermark resolves to
      if (publish) invalidateReceiptState()
      publish
    }.getOrElse("n", 0L).asInstanceOf[Long]
  }

  /** Replica-side APPLY: [[importSnapshot]] + [[verifyReceipt]] as one
    * verb, so a sync loop cannot apply a delta and forget the check —
    * the gap the receipt machinery left open (export wrote receipts;
    * nothing on the apply path consumed them). Imports the delta,
    * then recomputes this replica's LWW checksum at the receipt's
    * watermark and throws [[IllegalStateException]] on divergence —
    * the post-erase case: a destructive verb on the primary cannot
    * ride a state-based delta, so the replica MUST full re-sync
    * ([[exportSnapshot]] → fresh [[importSnapshot]]); the import
    * before the throw is intentional (the replica was already
    * divergent; the verb's contract is detect-loudly, not
    * rollback). Returns (applied rows, verified rows, verified
    * hash). */
  def applyDelta(srcDir: String): (Long, Long, Long) = mutate {
    val applied = importSnapshot(srcDir)
    val (rows, hash) = verifyReceipt(srcDir)
    (applied, rows, hash)
  }

  /** Full-table physical audit — the ops-path complement of the
    * serving path's tolerant reads (same pairing the reference makes:
    * serve the valid prefix, log the damage). Counts, per invariant:
    * footer-corrupt files; rows whose bucket dir disagrees with their
    * slot's floored bucket (misfiled data = broken pruning: a
    * time-range read would silently miss them); payloads of the wrong
    * size; tag tuples with NULL/empty members. All four row checks
    * ride ONE scan with conditional counts. A healthy table is all
    * zeros. */
  def auditTable(): Map[String, Long] = {
    ensureManifest(adopt = false)
    val rows = table()
    val agg = rows.agg(
      count(when(floorBucket(col("slot_ns")) =!= col("bucket_ts"), 1)).as("misplaced_rows"),
      count(when(octet_length(col("payload")) =!= opts.payloadSize ||
        col("payload").isNull, 1)).as("invalid_payload_rows"),
      count(when(tagCols.map(c => col(c).isNull || col(c) === "").reduce(_ || _), 1))
        .as("invalid_tag_rows"),
      count(when(col("seq").isNull, 1)).as("null_seq_rows")).head()
    Map(
      "corrupt_files" -> corruptFiles().size.toLong,
      "misplaced_rows" -> agg.getLong(0),
      "invalid_payload_rows" -> agg.getLong(1),
      "invalid_tag_rows" -> agg.getLong(2),
      "null_seq_rows" -> agg.getLong(3))
  }

  /** Buckets on disk strictly below the hot window — immutable (writes
    * reject with ErrWriteOnReadOnly), so compactable exactly once. */
  def coldBucketsOnDisk(): Seq[Long] = {
    val now = clock.nowNs
    val nowBucket = now - now % opts.bucketDuration
    val minHotExclusive = nowBucket - opts.bucketDuration * opts.maxHotBuckets
    bucketsOnDisk().filter(_ <= minHotExclusive)
  }

  /** Cold buckets whose data is split across more than one committed
    * batch dir — the ones a compaction sweep should touch. Already-
    * compacted buckets hold ONE dir and are skipped, which makes a
    * per-trigger maintenance sweep idempotent and restart-safe (no
    * state to remember: the filesystem itself says what's folded). */
  def fragmentedColdBuckets(): Seq[Long] = {
    val fs = FileSystem.get(new java.net.URI(opts.dataDir), spark.sparkContext.hadoopConfiguration)
    coldBucketsOnDisk().filter(b => bucketDirs(fs, b).size > 1)
  }

  /** All committed dirs holding one bucket's data (across batches). */
  private def bucketDirs(fs: FileSystem, baseTs: Long): Seq[Path] = {
    val root = new Path(opts.tablePath)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq
      .filter(_.getPath.getName.startsWith("batch="))
      .map(b => new Path(b.getPath, s"bucket_ts=$baseTs"))
      .filter(fs.exists)
  }

  /** [[Publish.heal]] every dir this database publishes into: the
    * data dir (only for this database's table and index roots, which
    * rebucket and buildVectorIndex swap), then the table, rollup and
    * index roots. Runs at the start of the destructive verbs and on a
    * put's first contact. */
  private[graft] def heal(): Unit = {
    assertLeaseHeld()
    val fs = tableFs
    val table = new Path(opts.tablePath)
    val index = new Path(vindexPath)
    Publish.heal(fs, table.getParent, Set(table.getName, index.getName))
    Seq(table, new Path(rollupPath), index).foreach(Publish.heal(fs, _))
  }

  private val fenced: () => Unit = () => assertLeaseHeld()

  // ------------------------------------------------------------------
  // Continuous aggregate (rollup) — incrementally maintained partial
  // aggregates over the typed double view, beyond the reference (its
  // consumers re-aggregate raw reads every query; a TSDB serving
  // dashboards needs the Timescale-style continuous aggregate).
  //
  // Design: the rollup is its own append-only sibling table
  // (<table>_rollup/delta=<lo>_<hi>/bucket_ts=<ns>/...) of PARTIAL
  // aggregates — count / sum / min / max / last-by-seq per
  // (series, rollup-slot). Each refresh folds exactly the engine rows
  // with ingest seq in (lo, hi] — the monotone seq column IS the
  // exactly-once watermark, carried in the delta dir NAME, so there is
  // no separate state file to corrupt and publishing the delta
  // publishes its range. Reads merge partials on the fly
  // (merge-on-read): counts/sums add, min/max fold, last resolves by
  // max seq — all partial-agg-friendly, so the merge combines
  // map-side. Overlapping ranges left by a crashed
  // compaction are resolved by the greedy interval cover below, which
  // always prefers the widest delta starting at the watermark chain's
  // next link — additive counters are never double-counted.
  // ------------------------------------------------------------------

  private def rollupPath = s"${opts.tablePath}_rollup"
  private def rollupOptionsPath = new Path(s"$rollupPath/_rollup_options")

  private def rollupSchema: StructType = StructType(
    StructField("rslot_ns", LongType) +:
      tagCols.map(StructField(_, StringType)) :+
      StructField("cnt", LongType) :+
      StructField("vsum", DoubleType) :+
      StructField("vmin", DoubleType) :+
      StructField("vmax", DoubleType) :+
      StructField("last_seq", LongType) :+
      StructField("last_val", DoubleType) :+
      StructField("bucket_ts", LongType))

  /** Validate (or on write paths adopt) the rollup resolution — a
    * layout property of the rollup table, same fail-closed contract
    * as the engine's own options manifest. */
  private def ensureRollupOptions(res: Long, adopt: Boolean): Unit = {
    val fs = tableFs
    if (fs.exists(rollupOptionsPath)) {
      val in = fs.open(rollupOptionsPath)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val found = text.linesIterator.collectFirst {
        case l if l.startsWith("rollupResolution=") =>
          scala.util.Try(l.stripPrefix("rollupResolution=").trim.toLong).toOption
      }.flatten
      if (!found.contains(res))
        throw new IllegalArgumentException(
          s"${EngineErrors.OptionsMismatch}: rollupResolution table=${found.getOrElse("<corrupt>")} caller=$res")
      return
    }
    if (!adopt)
      throw new IllegalStateException(s"no rollup exists at $rollupPath — refresh first")
    fs.mkdirs(new Path(rollupPath))
    Publish.file(fs, rollupOptionsPath, s"rollupResolution=$res\n", replace = false)
    // revalidate what's on disk (two racing first refreshes: one wins)
    ensureRollupOptions(res, adopt = false)
  }

  /** Committed seq-range dirs `<prefix><lo>_<hi>` under `root` as
    * (path, loSeqExclusive, hiSeqInclusive) — the naming discipline
    * shared by the rollup deltas and the vector-index deltas /
    * tombstones: the folded range IS the directory name, so there is
    * no separate watermark file to corrupt and one publish carries
    * range + data together. */
  private def seqRangeDirs(fs: FileSystem, root: Path,
      prefix: String): Seq[(Path, Long, Long)] = {
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (!n.startsWith(prefix)) None
      else n.stripPrefix(prefix).split("_", 2) match {
        case Array(lo, hi) =>
          scala.util.Try((st.getPath, lo.toLong, hi.toLong)).toOption
        case _ => None
      }
    }
  }

  /** Committed delta dirs as (path, loSeqExclusive, hiSeqInclusive). */
  private def rollupDeltas(fs: FileSystem): Seq[(Path, Long, Long)] =
    seqRangeDirs(fs, new Path(rollupPath), "delta=")

  /** Greedy interval cover of the seq axis: starting at the chain
    * origin (lo = −1), repeatedly take the widest delta continuing
    * the chain (lo == covered), skipping deltas a crashed compaction
    * left fully behind the cover. A delta that OVERLAPS the cover
    * boundary or a gap in the chain means manual tampering — fail
    * loudly rather than serve a double-counted or partial aggregate. */
  private def rollupCover(ds: Seq[(Path, Long, Long)]): Seq[(Path, Long, Long)] = {
    val sorted = ds.sortBy { case (_, lo, hi) => (lo, -hi) }
    var covered = -1L
    val keep = Seq.newBuilder[(Path, Long, Long)]
    sorted.foreach { case d @ (_, lo, hi) =>
      if (hi > covered) {
        if (lo != covered)
          throw new IllegalStateException(
            s"rollup delta chain broken at seq $covered (next delta covers ($lo, $hi])")
        keep += d
        covered = hi
      } // else: fully covered (crashed-compaction leftover) — ignored
    }
    keep.result()
  }

  /** Incremental refresh: fold engine rows with seq > watermark into
    * a new delta of partial aggregates at `rollupResolution`. Exactly
    * once by construction — the folded range is the delta's name, so
    * a re-run after any crash sees the same watermark the survivors
    * define. Returns the number of
    * partial rows published (0 when already up to date). The new-row
    * scan carries a `seq > wm` predicate: not a partition prune, but
    * batch files are immutable with tight seq ranges, so parquet
    * row-group stats skip every already-folded batch.
    *
    * One scan: the fold's write job observes the highest seq it folded
    * beside its row count, and the delta publishes as
    * `delta=<wm>_<that max>` ([[Publish.observedNamed]]). The name
    * therefore covers exactly the rows in the delta, even when a
    * lease-free put from another engine publishes a batch while the
    * fold runs; naming the range from a separate max-seq scan would
    * fold such a batch under the old range and again on the next
    * refresh. An empty fold publishes nothing.
    *
    * Semantics: the rollup aggregates the OBSERVATION STREAM — every
    * accepted write is one sample, so cnt/sum/min/max count
    * superseded LWW duplicates too (additive partials cannot retract;
    * the classic incremental-view-maintenance boundary). `last_val`
    * alone is LWW-exact: it resolves by max ingest seq across deltas,
    * so it always equals what get() would serve for that slot. For
    * metrics ingest (distinct slots per sample — the overwhelmingly
    * common TSDB shape) observation and LWW semantics coincide. */
  def refreshRollup(rollupResolution: Long): Long = mutate {
    ensureManifest(adopt = false)
    require(opts.payloadSize == 8,
      s"rollup decodes double payloads (payloadSize=8; engine has ${opts.payloadSize})")
    require(rollupResolution > 0 && rollupResolution % opts.resolution == 0,
      "rollupResolution must be a positive multiple of resolution")
    ensureRollupOptions(rollupResolution, adopt = true)
    val fs = tableFs
    val wm = rollupCover(rollupDeltas(fs)).lastOption.map(_._3).getOrElse(-1L)
    val partials = table()
      .filter(col("seq") > wm)
      .withColumn("value", call_function("double_from_payload", col("payload")))
      .withColumn("rslot_ns", col("slot_ns") - (col("slot_ns") % rollupResolution))
      .groupBy(col("bucket_ts") +: tagCols.map(col) :+ col("rslot_ns"): _*)
      .agg(count(lit(1)).as("cnt"),
        sum(col("value")).as("vsum"),
        min(col("value")).as("vmin"),
        max(col("value")).as("vmax"),
        // (seq, value) struct max: the lwwAgg tie-break rule, so a
        // duplicate-seq ingest can't make the rollup's last_val
        // disagree with the raw path's winner
        max(struct(col("seq"), col("value"))).as("__lw"))
      .select(col("rslot_ns") +: tagCols.map(col) :+ col("cnt") :+ col("vsum") :+
        col("vmin") :+ col("vmax") :+ col("__lw.seq").as("last_seq") :+
        col("__lw.value").as("last_val") :+
        col("bucket_ts"): _*)
    // the published-row count (the return value) and the delta's upper
    // seq bound ride the write job as observed metrics
    val obs = new org.apache.spark.sql.Observation()
    Publish.observedNamed(fs, new Path(s"$rollupPath/delta=${wm}_")) { p =>
      partials.observe(obs, count(lit(1)).as("n"), max(col("last_seq")).as("hi"))
        .write.mode(SaveMode.Overwrite).partitionBy("bucket_ts").parquet(p.toString)
      obs.get
    }(m => Option(m("hi")).map(hi => s"delta=${wm}_$hi")).getOrElse("n", 0L).asInstanceOf[Long]
  }

  /** Merge-on-read rollup query: final (series, rollup-slot) rows over
    * [start, end) for a (possibly wildcard "") tag pattern — counts
    * and sums add across deltas, min/max fold, `last` resolves by max
    * ingest seq, avg derives at the end. Partition-pruned by
    * bucket_ts exactly like the raw read path. */
  def rollup(start: Long, end: Long, tags: Seq[String],
      rollupResolution: Long): DataFrame = {
    ensureManifest(adopt = false)
    ensureRollupOptions(rollupResolution, adopt = false)
    if (tags.size != opts.indexDepth)
      throw new IllegalArgumentException(InvalidIndexValues)
    val fs = FileSystem.get(new java.net.URI(opts.dataDir), spark.sparkContext.hadoopConfiguration)
    val cover = rollupCover(rollupDeltas(fs))
    val s0 = start - start % rollupResolution
    val e0 = end - end % rollupResolution
    val base =
      if (cover.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], rollupSchema)
      else spark.read.schema(rollupSchema)
        .option("basePath", rollupPath)
        .option("ignoreCorruptFiles", "true")
        .parquet(cover.map(_._1.toString): _*)
    val bs = s0 - s0 % opts.bucketDuration
    val be = e0 - e0 % opts.bucketDuration
    val preds = tagCols.zip(tags).collect { case (c, v) if v.nonEmpty => col(c) === v }
    preds.foldLeft(
        base.filter(col("bucket_ts") >= bs && col("bucket_ts") <= be &&
          col("rslot_ns") >= s0 && col("rslot_ns") < e0))(_ filter _)
      .groupBy(tagCols.map(col) :+ col("rslot_ns"): _*)
      .agg(sum(col("cnt")).as("cnt"),
        sum(col("vsum")).as("vsum"),
        min(col("vmin")).as("vmin"),
        max(col("vmax")).as("vmax"),
        max_by(col("last_val"), col("last_seq")).as("last_val"))
      .select(tagCols.map(col) :+ col("rslot_ns") :+ col("cnt") :+ col("vsum") :+
        col("vmin") :+ col("vmax") :+ col("last_val") :+
        (col("vsum") / col("cnt")).as("vavg"): _*)
      .orderBy(tagCols.map(col) :+ col("rslot_ns"): _*)
  }

  /** Rollup retention, the aggregate-side twin of [[removeBefore]]:
    * drop every bucket_ts partition below `ts` inside every delta —
    * a directory delete per (delta, bucket), metadata-only like the
    * raw path. Deliberately NOT fused into removeBefore: dashboards
    * commonly keep the aggregate longer than the raw points (raw 30
    * days, hourly rollup 2 years), so the two retention horizons are
    * independent knobs. Same hot-window guard — the rollup of a
    * bucket still receiving writes must not vanish mid-refresh. An
    * emptied delta keeps its dir (the seq-range chain must stay
    * unbroken for the cover); compaction folds empty links away. */
  def rollupRemoveBefore(ts: Long): Unit = mutate {
    ensureManifest(adopt = false)
    val now = clock.nowNs
    val nowBucket = now - now % opts.bucketDuration
    val minHot = nowBucket - opts.bucketDuration * (opts.maxHotBuckets - 1)
    if (ts > minHot)
      throw new IllegalArgumentException("err_remove_hot_bucket")
    val fs = FileSystem.get(new java.net.URI(opts.dataDir), spark.sparkContext.hadoopConfiguration)
    rollupDeltas(fs).foreach { case (delta, _, _) =>
      fs.listStatus(delta).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("bucket_ts=") &&
          name.stripPrefix("bucket_ts=").toLong < ts)
          fs.delete(st.getPath, true)
      }
    }
  }

  /** Fold the delta chain into one delta (same publish-then-delete
    * discipline as [[compactBucket]]): merge-on-read cost drops to a
    * single dir. Crash between publish and delete leaves an overlap
    * the greedy cover resolves in the merged delta's favor (it starts
    * at the chain origin and reaches the newest seq, so every
    * original is "fully covered" and ignored) — additive partials are
    * never double-counted, and the next compaction finishes the
    * deletes. Returns the number of deltas folded (0 = nothing to do). */
  def compactRollup(): Int = mutate {
    ensureManifest(adopt = false)
    val fs = tableFs
    val all = rollupDeltas(fs)
    val cover = rollupCover(all)
    // sweep crashed-compaction leftovers even when the chain is short
    val redundant = all.filterNot(cover.contains)
    assertLeaseHeld() // fence: chain deletes begin
    redundant.foreach { case (p, _, _) => fs.delete(p, true) }
    val n = cover.size
    if (n > 1) {
      val merged = spark.read.schema(rollupSchema)
        .option("basePath", rollupPath)
        .parquet(cover.map(_._1.toString): _*)
        .groupBy(col("bucket_ts") +: tagCols.map(col) :+ col("rslot_ns"): _*)
        .agg(sum(col("cnt")).as("cnt"),
          sum(col("vsum")).as("vsum"),
          min(col("vmin")).as("vmin"),
          max(col("vmax")).as("vmax"),
          max(col("last_seq")).as("last_seq"),
          max_by(col("last_val"), col("last_seq")).as("last_val"))
        .select(col("rslot_ns") +: tagCols.map(col) :+ col("cnt") :+ col("vsum") :+
          col("vmin") :+ col("vmax") :+ col("last_seq") :+ col("last_val") :+
          col("bucket_ts"): _*)
      // the target name is fresh (cover.size > 1 means no single delta
      // already spans the whole chain); publish first, then delete
      val target = new Path(s"$rollupPath/delta=${cover.head._2}_${cover.last._3}")
      Publish.dir(fs, target) { p =>
        merged.write.mode(SaveMode.Overwrite).partitionBy("bucket_ts").parquet(p.toString)
      }
      cover.foreach { case (p, _, _) => if (p != target) fs.delete(p, true) }
    }
    if (n > 1) n else 0
  }

  // ------------------------------------------------------------------
  // Persisted vector (ANN) index — beyond the reference: IVF index
  // lifecycle over the engine's vector payloads (payloadSize = 4·dim
  // big-endian float32s, the FloatsFromPayload typed view). A
  // production 100 TB ANN deployment builds the index ONCE, stores it
  // beside the table, and serves probes from it — per-query training
  // (operators/Ivf) is the algorithm; this is the build/save/probe/
  // refresh verb set around it.
  //
  // Layout (sibling table, the rollup discipline):
  //   <table>_vecindex/
  //     _vindex_options            k / dim / iters manifest (fail-closed)
  //     centroids/                 parquet (cid, cv) — k tiny rows
  //     delta=<lo>_<hi>/cid=<c>/   inverted file: LWW winners of seq
  //                                range (lo, hi], PARTITIONED BY CELL
  //     tomb=<lo>_<hi>/            keys in (lo, hi] that superseded an
  //                                already-indexed version (see below)
  //
  // The cell partitioning is the entire point: a probe statically
  // prunes to its nprobe cells' directories, so a search touches
  // nprobe/k of the stored bytes — the property that survives 100 TB.
  // The seq-range chain (same greedy cover as the rollup) makes
  // refresh exactly-once: fold rows (wm, cur], publish atomically,
  // crash anywhere and the surviving dirs define the same watermark.
  //
  // Correctness under overwrites (the LWW seam a secondary index must
  // handle): each delta holds its range's per-key winners, but a key
  // re-written in a later range leaves its stale version in an older
  // delta — possibly in a DIFFERENT cell, so probe-time LWW grouping
  // cannot see it. The tombstone table fixes this exactly: refresh
  // looks up which incoming keys already exist at-or-below the old
  // watermark (slot-pruned semi-join against the engine table — the
  // incrementalChecksum pattern, O(delta), not O(table)) and records
  // (key, new winning seq); annSearch drops any candidate older than
  // its key's tombstone. Tombstones are bounded by overwritten keys
  // (≈0 for metrics-shape ingest) and reset by a rebuild. A tomb dir
  // applies only when the delta cover reaches its hi — so a crash
  // between the tomb publish and the delta publish cannot hide the
  // still-current older version.
  //
  // Destructive verbs cascade (derived data must never serve rows the
  // table no longer has): erase/removeBefore FILTER deltas+tombstones
  // in place (a Publish swap, as erase does for rollup deltas);
  // rollbackTo drops the suffix of the chain (by
  // construction the affected deltas are a suffix, exactly the rollup
  // cascade). The index is derived and rebuildable, so every heal
  // path may fall back to fail-closed absence, never to stale serves.
  // ------------------------------------------------------------------

  private def vindexPath = s"${opts.tablePath}_vecindex"
  private def vindexOptionsPath = new Path(s"$vindexPath/_vindex_options")

  /** Inverted-file row schema: data cols in the files; delta/cid are
    * discovered partition levels (explicit types — small cid values
    * would otherwise discover as INT and break long comparisons).
    * `codes` is the optional PQ tier: NULL (absent from the files)
    * when the index was built without [[PqParams]]. */
  private def vindexSchema: StructType = StructType(
    StructField("slot_ns", LongType) +:
      tagCols.map(StructField(_, StringType)) :+
      StructField("vec", ArrayType(FloatType, containsNull = false)) :+
      StructField("codes", ArrayType(LongType, containsNull = false)) :+
      StructField("seq", LongType) :+
      StructField("delta", StringType) :+
      StructField("cid", LongType))

  private def vindexBookSchema: StructType = StructType(
    StructField("sub", IntegerType) ::
      StructField("cid", LongType) ::
      StructField("cv", ArrayType(DoubleType, containsNull = false)) :: Nil)

  private def vindexCentSchema: StructType = StructType(
    StructField("cid", LongType) ::
      StructField("cv", ArrayType(DoubleType, containsNull = false)) :: Nil)

  private def vindexTombSchema: StructType = StructType(
    tagCols.map(StructField(_, StringType)) :+
      StructField("slot_ns", LongType) :+
      StructField("win_seq", LongType))

  private def vindexDeltas(fs: FileSystem): Seq[(Path, Long, Long)] =
    seqRangeDirs(fs, new Path(vindexPath), "delta=")

  private def vindexTombs(fs: FileSystem): Seq[(Path, Long, Long)] =
    seqRangeDirs(fs, new Path(vindexPath), "tomb=")

  /** Stored-index manifest: coarse k plus the optional PQ tier. */
  private final case class VindexMeta(k: Int, pq: Option[PqParams])

  /** Validate the stored index manifest against this engine: dim must
    * equal payloadSize/4 — fail-closed like `_graft_options`. A
    * manifest carrying any pq_* key must carry all three (a
    * half-readable PQ tier must never validate by omission). */
  private def readVindexOptions(fs: FileSystem): VindexMeta = {
    if (!fs.exists(vindexOptionsPath))
      throw new IllegalStateException(
        s"no vector index at $vindexPath — buildVectorIndex first")
    val in = fs.open(vindexOptionsPath)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val kv = text.linesIterator.flatMap { l =>
      l.split("=", 2) match {
        case Array(k, v) => scala.util.Try(k.trim -> v.trim.toLong).toOption
        case _ => None
      }
    }.toMap
    val dim = kv.getOrElse("dim",
      throw new IllegalStateException(s"corrupt _vindex_options at $vindexPath"))
    if (dim != opts.payloadSize / 4)
      throw new IllegalArgumentException(
        s"${EngineErrors.OptionsMismatch}: vector index dim=$dim but engine " +
          s"payloadSize=${opts.payloadSize} (dim ${opts.payloadSize / 4})")
    val k = kv.getOrElse("k",
      throw new IllegalStateException(s"corrupt _vindex_options at $vindexPath")).toInt
    val pqKeys = Seq("pq_m", "pq_k", "pq_iters").map(kv.get)
    val pq =
      if (pqKeys.forall(_.isEmpty)) None
      else if (pqKeys.forall(_.isDefined))
        Some(PqParams(pqKeys(0).get.toInt, pqKeys(1).get.toInt, pqKeys(2).get.toInt))
      else throw new IllegalStateException(
        s"corrupt _vindex_options at $vindexPath: partial pq_* keys")
    VindexMeta(k, pq)
  }

  /** LWW winners of seq range (lo, hi] with payloads decoded to
    * float vectors: (slot_ns, tags…, vec, seq). */
  private def vectorRows(loExclusive: Long, hiInclusive: Long): DataFrame =
    lwwAgg(
      table().filter(col("seq") > loExclusive && col("seq") <= hiInclusive),
      tagCols.map(col) :+ col("slot_ns"))
      .withColumn("vec",
        graft.functions.VectorFunctions.floatsFromPayload(col("payload")))
      .drop("payload")

  /** Nearest stored cell per key — ONE zero-shuffle argmin pass over
    * a 1-row centroid-array broadcast (operators/Ivf kernel: same
    * l2sq, same (dist, cid) tie rule as the old per-key window rank,
    * so assignments are bit-identical). r14: the window version
    * shuffled and sorted k copies of EVERY vector just to pick a
    * per-row argmin (guide §2.4 — remove shuffles outright). */
  private def assignCells(rows: DataFrame, cent: DataFrame): DataFrame =
    rows.crossJoin(broadcast(graft.operators.Ivf.centArray(cent)))
      .select((col("slot_ns") +: tagCols.map(col)) :+ col("vec") :+
        col("seq") :+
        graft.operators.Ivf.nearestCid(col("vec"), col("__cents")).as("cid"): _*)

  /** PQ-encode keyed rows against stored codebooks: (keys…, codes)
    * with codes ordered by sub — graft.operators.Pq.encode's exact
    * tie rule ((dist, cid) per (key, sub)) and its exact zero-shuffle
    * shape: each row computes its m argmins against a 1-row codebook
    * broadcast. r14: the old path exploded every key m× and paid a
    * per-(key, sub) window shuffle+sort plus a re-assembly groupBy
    * shuffle — two exchanges of n·m rows for a pure per-row
    * computation (guide §2.4). The `transform(array(slice(…)), sv =>
    * …)` wrapper binds the subvector once per (row, sub) so the
    * O(sd) slice is not re-evaluated per codebook entry. */
  private def encodePq(rows: DataFrame, books: DataFrame, pq: PqParams): DataFrame = {
    import graft.operators.Pq
    val dim = opts.payloadSize / 4
    require(dim % pq.m == 0, s"pq m=${pq.m} must divide dim=$dim")
    val sd = dim / pq.m
    rows.crossJoin(broadcast(Pq.bookArray(books.select(col("sub"), col("cid"), col("cv")))))
      .select((tagCols.map(col) :+ col("slot_ns")) :+
        transform(col("__books"), b =>
          element_at(
            transform(
              array(slice(col("vec").cast("array<double>"),
                b.getField("sub") * sd + 1, lit(sd))),
              sv => Pq.argminCid(sv, b.getField("entries"))),
            1)).as("codes"): _*)
  }

  /** Build (or REBUILD — replacing any existing index and its
    * tombstones) the persisted IVF index over every committed vector
    * payload: deterministic k-means training (operators/Ivf), one
    * broadcast assignment pass, one cell-partitioned write. The whole
    * tree — centroids, inverted file, optional PQ codebooks, manifest
    * — is published at once ([[Publish]]), so readers see the old
    * index or the complete new index, never a half-built one.
    *
    * `pq = Some(PqParams(m, k, iters))` adds the ADC tier: per-
    * subspace codebooks (operators/Pq training discipline) plus an
    * m-code column on every inverted-file row. [[annSearch]] keeps
    * reading exact vectors; [[annSearchAdc]] reads ONLY the code
    * column — parquet column pruning turns the probe scan from
    * dim·4 bytes/row into m·~2 bytes/row, the 100 TB ADC trade.
    * Returns the number of indexed vectors. */
  def buildVectorIndex(k: Int, iters: Int,
      pq: Option[PqParams] = None): Long = mutate {
    ensureManifest(adopt = false)
    require(opts.payloadSize % 4 == 0 && opts.payloadSize >= 4,
      s"vector index needs float32 payloads (payloadSize % 4 == 0; engine has ${opts.payloadSize})")
    require(k > 0 && iters >= 0, s"buildVectorIndex: k=$k iters=$iters")
    pq.foreach(p => require((opts.payloadSize / 4) % p.m == 0,
      s"pq m=${p.m} must divide dim=${opts.payloadSize / 4}"))
    val fs = tableFs
    heal()
    val cur = currentSeq()
    require(cur >= 0, "buildVectorIndex: table is empty — nothing to index")
    // persist: k-means training re-scans the vector view per Lloyd
    // iteration (and per PQ subspace round), then assignment + PQ
    // encode each scan it again — without the cache every consumer
    // re-pays the table scan + LWW shuffle + payload decode
    val rows = vectorRows(Long.MinValue, cur).persist()
    try {
    // train on a hash surrogate id (deterministic init order; a rare
    // collision only perturbs which vectors seed k-means — harmless,
    // unlike assignment, which keys on the real columns)
    val trainView = rows.select(
      xxhash64((tagCols.map(col) :+ col("slot_ns")): _*).as("vec_id"),
      col("vec").as("embedding"))
    val cent = graft.operators.Ivf.train(trainView, k, iters)
      .select(col("cid").cast("long").as("cid"), col("cv"))
    val books = pq.map { p =>
      graft.operators.Pq.train(trainView, p.m, opts.payloadSize / 4, p.k, p.iters)
        .select(col("sub").cast("int").as("sub"), col("cid").cast("long").as("cid"),
          col("cv"))
    }
    val assigned0 = assignCells(rows, cent)
    val assigned = books match {
      case None => assigned0
      case Some(b) =>
        assigned0.join(encodePq(rows, b, pq.get), tagCols :+ "slot_ns")
          .select((col("slot_ns") +: tagCols.map(col)) :+ col("vec") :+
            col("codes") :+ col("seq") :+ col("cid"): _*)
    }
    // r15: the indexed-vector count (the return value) rides the
    // inverted-file write as an observed metric — no footer-count job
    val obs = new org.apache.spark.sql.Observation()
    Publish.observed(fs, new Path(vindexPath), replace = true, fence = fenced) { staging =>
      cent.coalesce(1).write.parquet(s"$staging/centroids")
      books.foreach(_.coalesce(1).write.parquet(s"$staging/pq_books"))
      assigned.observe(obs, count(lit(1)).as("n"))
        .write.partitionBy("cid").parquet(s"$staging/delta=-1_$cur")
      val pqLines = pq.map(p => s"pq_m=${p.m}\npq_k=${p.k}\npq_iters=${p.iters}\n").getOrElse("")
      val mf = fs.create(new Path(s"$staging/_vindex_options"), true)
      try mf.write(
        (s"k=$k\ndim=${opts.payloadSize / 4}\niters=$iters\n" + pqLines).getBytes("UTF-8"))
      finally mf.close()
      obs.get
    }(_ => true).getOrElse("n", 0L).asInstanceOf[Long]
    } finally rows.unpersist()
  }

  /** Highest ingest seq the stored index covers (−1 when absent):
    * the staleness accounting — currentSeq() − watermark is the
    * un-indexed backlog a monitoring loop alarms on. Deliberately
    * LENIENT where the query paths are loud: a crash mid-swap leaves
    * a transient hole in the delta chain (healed by the next
    * maintenance verb), and a monitoring poll must keep reporting
    * through it — so this walks the longest valid chain PREFIX
    * instead of throwing, under-reporting the watermark (staleness
    * reads HIGHER — the alarm-safe direction) until the heal runs. */
  def vectorIndexWatermark(): Long = {
    val fs = tableFs
    if (!fs.exists(new Path(vindexPath))) return -1L
    val sorted = vindexDeltas(fs).sortBy { case (_, lo, hi) => (lo, -hi) }
    var covered = -1L
    var broken = false
    sorted.foreach { case (_, lo, hi) =>
      if (!broken && hi > covered) {
        if (lo != covered) broken = true // hole (crashed swap): stop at the prefix
        else covered = hi
      }
    }
    covered
  }

  /** Incrementally fold writes above the index watermark into a new
    * delta against the STORED centroids (no re-training — assignment
    * is one broadcast pass over the new rows, the cheap path; a
    * drifted corpus re-trains via buildVectorIndex). Tombstones for
    * overwritten keys publish BEFORE the delta and only apply once
    * the cover reaches them, so every crash window serves a
    * consistent older watermark. Returns rows folded (0 when up to
    * date). */
  def refreshVectorIndex(): Long = mutate {
    ensureManifest(adopt = false)
    val fs = tableFs
    heal()
    val meta = readVindexOptions(fs)
    val cover = rollupCover(vindexDeltas(fs))
    val wm = cover.lastOption.map(_._3).getOrElse(
      throw new IllegalStateException(s"vector index at $vindexPath has no deltas — rebuild"))
    val cur = currentSeq()
    if (cur <= wm) return 0L
    val cent = spark.read.schema(vindexCentSchema).parquet(s"$vindexPath/centroids")
    val fresh = vectorRows(wm, cur)
    val assigned0 = assignCells(fresh, cent)
    // PQ tier: encode the epoch's rows against the STORED codebooks —
    // one broadcast pass, no re-training (the assignment discipline)
    val assigned = meta.pq match {
      case None => assigned0
      case Some(p) =>
        val books = spark.read.schema(vindexBookSchema).parquet(s"$vindexPath/pq_books")
        assigned0.join(encodePq(fresh, books, p), tagCols :+ "slot_ns")
          .select((col("slot_ns") +: tagCols.map(col)) :+ col("vec") :+
            col("codes") :+ col("seq") :+ col("cid"): _*)
    }
    // r15 job-count reduction (guide §1.2 step 1): the epoch's delta
    // stages in ONE write job whose observed metrics carry the row
    // count (the return value) and slot min/max (the tombstone
    // lookup's prune range); the tombstone pipeline then reads the
    // STAGED files' key columns (no caching of the epoch's vectors at
    // all). Tombs publish BEFORE the delta: a tomb applies only once
    // the cover reaches its hi, so every crash window serves a
    // consistent older watermark. Either target may already exist
    // from a crashed replay of the same range, hence `replace`.
    val keyNames = tagCols :+ "slot_ns"
    val obs = new org.apache.spark.sql.Observation()
    Publish.observed(fs, new Path(s"$vindexPath/delta=${wm}_$cur"),
        replace = true, fence = fenced) { deltaStaging =>
      assigned.observe(obs, count(lit(1)).as("n"),
          min(col("slot_ns")).as("lo"), max(col("slot_ns")).as("hi"))
        .write.mode(SaveMode.Overwrite).partitionBy("cid").parquet(deltaStaging.toString)
      val m = obs.get
      // tombstones: incoming keys already indexed at-or-below wm. The
      // prior-existence set comes from the STORED INDEX COVER, never
      // the raw table — compactBucket LWW-drops superseded table rows,
      // so a table-side lookup (seq <= wm) goes blind after put(v1) →
      // build → put(v2) → compactBucket → refresh and the stale v1
      // would serve from its old cell forever. The cover IS the
      // indexed content ≤ wm by construction (every delta's rows have
      // seq ≤ its dir hi ≤ wm), it prunes to the epoch's slot range by
      // parquet stats, and only the key columns are read (vec/codes
      // column-pruned) — O(index keys in slot range), never a vector
      // scan. The epoch's own keys come from the staged files, key
      // columns only.
      if (m.get("n").exists(_.asInstanceOf[Long] > 0)) {
        val (lo, hi) = (m("lo").asInstanceOf[Long], m("hi").asInstanceOf[Long])
        val stagedKeySchema = StructType(
          StructField("slot_ns", LongType) +:
            tagCols.map(StructField(_, StringType)) :+
            StructField("seq", LongType) :+
            StructField("cid", LongType))
        val stagedKeys = spark.read.schema(stagedKeySchema)
          .option("basePath", deltaStaging.toString)
          .parquet(deltaStaging.toString).drop("cid")
        val tomb = spark.read.schema(vindexSchema).option("basePath", vindexPath)
          .parquet(cover.map(_._1.toString): _*)
          .filter(col("slot_ns") >= lo && col("slot_ns") <= hi)
          .select(keyNames.map(col): _*)
          .join(stagedKeys.select(keyNames.map(col): _*), keyNames, "left_semi")
          .distinct()
          .join(stagedKeys.select((keyNames.map(col) :+ col("seq").as("win_seq")): _*),
            keyNames)
          .select((tagCols.map(col) :+ col("slot_ns") :+ col("win_seq")): _*)
        // an epoch with no overwritten keys (the overwhelmingly common
        // case) publishes NO tomb dir: under high-frequency streaming a
        // dir per epoch would pile up listings every probe pays for,
        // and an absent tomb applies nothing by definition. One job:
        // the tomb's observed count decides its publish.
        val tobs = new org.apache.spark.sql.Observation()
        Publish.observed(fs, new Path(s"$vindexPath/tomb=${wm}_$cur"),
            replace = true, fence = fenced) { p =>
          tomb.observe(tobs, count(lit(1)).as("n"))
            .write.mode(SaveMode.Overwrite).parquet(p.toString)
          tobs.get
        }(_("n").asInstanceOf[Long] > 0)
      }
      m
    }(_ => true).getOrElse("n", 0L).asInstanceOf[Long]
  }

  /** Fold the vector-index delta chain into ONE delta and materialize
    * every applied tombstone — the [[compactRollup]] discipline for
    * the ANN store: per key, only the max-seq row survives (exactly
    * what the tombstone filter computes at probe time), written as
    * `delta=<chainLo>_<chainHi>`; superseded deltas and all tombstone
    * dirs the merge absorbed are then deleted. Probe cost drops to
    * one dir listing and zero tombstone joins. Crash contract: the
    * merged delta publishes FIRST — the greedy cover then prefers it
    * (widest at the chain origin) and ignores the old deltas; stale
    * tombstones left by a crash re-apply harmlessly (every surviving
    * row already carries its key's max seq, so `seq >= win_seq`
    * keeps it). Returns the number of deltas folded (0 = chain
    * already compact). */
  def compactVectorIndex(): Int = mutate {
    ensureManifest(adopt = false)
    val fs = tableFs
    heal()
    readVindexOptions(fs)
    val all = vindexDeltas(fs)
    val cover = rollupCover(all)
    // fail fast BEFORE the dead-delta sweep: an empty cover (lost or
    // damaged origin delta) with stray tombstone dirs would otherwise
    // fall through the `cover.size <= 1 && tombs.isEmpty` guard and
    // die on `cover.last` AFTER sweeping — same loud contract as
    // refreshVectorIndex's missing-delta error
    if (cover.isEmpty)
      throw new IllegalStateException(
        s"vector index at $vindexPath has no deltas — rebuild")
    // sweep deltas a crashed earlier compaction left fully behind the
    // cover (publish succeeded, deletes didn't): the greedy cover
    // already ignores them, but every cascade that iterates RAW dirs
    // (erase/removeBefore rewrites, rollback deletes) would keep
    // paying for the dead trees — the compactRollup discipline
    all.filterNot(cover.contains).foreach { case (p, _, _) => fs.delete(p, true) }
    val tombs = vindexTombs(fs)
    if (cover.size <= 1 && tombs.isEmpty) return 0
    val hi = cover.last._3
    val lo = cover.head._2
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy((tagCols.map(col) :+ col("slot_ns")): _*)
      .orderBy(col("seq").desc)
    val merged = spark.read.schema(vindexSchema).option("basePath", vindexPath)
      .parquet(cover.map(_._1.toString): _*).drop("delta")
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select((col("slot_ns") +: tagCols.map(col)) :+ col("vec") :+
        col("codes") :+ col("seq") :+ col("cid"): _*)
    // with a single delta only tombstones are folded, and the merge
    // replaces that delta (the target exists); otherwise the target is
    // fresh and the merged cover's old deltas are deleted after it
    val target = new Path(s"$vindexPath/delta=${lo}_$hi")
    Publish.dir(fs, target, replace = true, fence = fenced) { p =>
      merged.write.mode(SaveMode.Overwrite).partitionBy("cid").parquet(p.toString)
    }
    cover.foreach { case (p, _, _) => if (p != target) fs.delete(p, true) }
    tombs.foreach { case (p, _, thi) => if (thi <= hi) fs.delete(p, true) }
    cover.size
  }

  /** The stored inverted file (cover of committed deltas) as
    * (slot_ns, tags…, vec, seq, cid) — the operational read behind
    * the streaming-assignment twin and cell-balance monitoring.
    * Tombstone-filtered like the probe paths: after a cross-epoch
    * overwrite the raw cover carries BOTH versions of a key (the
    * stale one in its old cell plus the winner), and a consumer
    * treating this as current index content would double-count
    * cells — so overwritten versions never surface here either. */
  def vectorIndexInverted(): DataFrame = {
    val fs = tableFs
    readVindexOptions(fs)
    val cover = rollupCover(vindexDeltas(fs))
    if (cover.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(vindexSchema.filterNot(_.name == "delta")))
    val raw = spark.read.schema(vindexSchema).option("basePath", vindexPath)
      .parquet(cover.map(_._1.toString): _*).drop("delta")
    tombstoneFiltered(raw, fs, cover.last._3)
  }

  /** Committed delta-chain length — the growth number a monitoring
    * loop alarms on beside [[vectorIndexWatermark]]: every annSearch
    * lists and unions the whole cover, so a cover that keeps growing
    * under streaming refresh means [[compactVectorIndex]] (or
    * StreamingIngest's vectorIndexCompactEvery) is not being run.
    * 0 when no index exists. */
  def vectorIndexCoverSize(): Int = {
    val fs = tableFs
    if (!fs.exists(new Path(vindexPath))) 0
    else rollupCover(vindexDeltas(fs)).size
  }

  /** The stored coarse centroids (cid, cv). */
  def vectorIndexCentroids(): DataFrame = {
    val fs = tableFs
    readVindexOptions(fs)
    spark.read.schema(vindexCentSchema).parquet(s"$vindexPath/centroids")
  }

  /** ANN search against the STORED index: for each query row (qid,
    * qv ARRAY<FLOAT|DOUBLE>), cosine top-k over the nprobe nearest
    * cells. The probed cell ids are collected (≤ |queries|·nprobe — a
    * probe set, bounded by construction) and pushed as a STATIC
    * partition filter, so the scan reads only those cells'
    * directories across the delta cover — nprobe/k of the index, the
    * number that holds at 100 TB. Candidates are tombstone-filtered
    * (overwritten versions never serve) before scoring; ties break by
    * (tags, slot) for a deterministic result set. Output: (qid, rk,
    * tag0…, slot_ns, cos). */
  def annSearch(queries: DataFrame, nprobe: Int, topk: Int): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    require(nprobe > 0 && topk > 0, s"annSearch: nprobe=$nprobe topk=$topk")
    ensureManifest(adopt = false)
    val fs = tableFs
    readVindexOptions(fs)
    val cover = rollupCover(vindexDeltas(fs))
    if (cover.isEmpty)
      throw new IllegalStateException(s"vector index at $vindexPath has no deltas — rebuild")
    val wmCover = cover.last._3
    val cent = spark.read.schema(vindexCentSchema).parquet(s"$vindexPath/centroids")
    // r14: nearest-nprobe cells per query via the zero-shuffle Ivf
    // argmin kernel (bit-identical (dist, cid) order), not a per-qid
    // window rank — guide §2.4
    val probed = probeCells(queries, cent, nprobe).persist()
    try {
      val cids = probed.select(col("cid")).distinct().collect().map(_.getLong(0))
      val inv = spark.read.schema(vindexSchema).option("basePath", vindexPath)
        .parquet(cover.map(_._1.toString): _*)
        .filter(col("cid").isin(cids: _*)) // static partition prune
        .drop("delta", "codes")
      val live = tombstoneFiltered(inv, fs, wmCover)
      // r14: per-query top-k via the k-bounded TopK aggregator (map-
      // side combine, ≤ k rows per query per partition cross the
      // shuffle) instead of a qid-partitioned window whose ONE task
      // absorbed the query's whole probed-cell population. Ordering
      // (cos desc, tags…, slot) is the window's exact total order.
      topCands(
        probed.join(live, Seq("cid"))
          .withColumn("__score", cosine(col("qv"), col("vec"))),
        topk, asc = false, scoreName = "cos").drop("cid")
    } finally probed.unpersist(blocking = false)
  }

  /** The nprobe nearest stored cells per query row — one zero-shuffle
    * argmin pass over a 1-row centroid broadcast (operators/Ivf
    * kernel; same l2sq and (dist, cid) tie rule as the old window).
    * Output: (qid, qv, cid) — one row per probed cell, nearest first
    * within a query. */
  private def probeCells(queries: DataFrame, cent: DataFrame, nprobe: Int): DataFrame =
    queries.select(col("qid"), col("qv"))
      .crossJoin(broadcast(graft.operators.Ivf.centArray(cent)))
      .select(col("qid"), col("qv"),
        explode(graft.operators.Ivf.nearestCids(col("qv"), col("__cents"), nprobe))
          .as("cid"))

  /** Per-query top-k of `cand` (columns: qid, __score, tags…,
    * slot_ns, cid) by (score asc|desc, tags…, slot_ns) — the probe
    * paths' shared k-bounded rank-and-flatten. Output: (qid, rk,
    * tags…, slot_ns, <scoreName>, cid); rk is 1-based like the old
    * row_number. */
  private def topCands(cand: DataFrame, topk: Int, asc: Boolean,
      scoreName: String): DataFrame = {
    val tk = udaf(graft.functions.TopK.TopTaggedAgg(topk, asc))
    cand
      .groupBy(col("qid"))
      .agg(tk(col("__score"), array(tagCols.map(col): _*), col("slot_ns"), col("cid"))
        .as("__top"))
      .select(col("qid"), posexplode(col("__top")).as(Seq("__rk0", "__s")))
      .select((col("qid") +: (col("__rk0") + 1).as("rk") +:
        tagCols.zipWithIndex.map { case (t, i) => col("__s.tags").getItem(i).as(t) }) :+
        col("__s.slot").as("slot_ns") :+ col("__s.score").as(scoreName) :+
        col("__s.cid").as("cid"): _*)
  }

  /** Drop candidates an applied tombstone supersedes — tomb ranges
    * the cover has reached only (see the refresh crash contract). */
  private def tombstoneFiltered(cand: DataFrame, fs: FileSystem,
      wmCover: Long): DataFrame = {
    val tombDirs = vindexTombs(fs).filter(_._3 <= wmCover).map(_._1.toString)
    if (tombDirs.isEmpty) return cand
    val tomb = spark.read.schema(vindexTombSchema).parquet(tombDirs: _*)
      .groupBy((tagCols.map(col) :+ col("slot_ns")): _*)
      .agg(max(col("win_seq")).as("__win_seq"))
    cand.join(broadcast(tomb), tagCols :+ "slot_ns", "left_outer")
      .filter(col("__win_seq").isNull || col("seq") >= col("__win_seq"))
      .drop("__win_seq")
  }

  /** The stored PQ codebooks (sub, cid, cv); fails loudly when the
    * index has no PQ tier. */
  def vectorIndexPqBooks(): DataFrame = {
    val fs = tableFs
    val meta = readVindexOptions(fs)
    if (meta.pq.isEmpty)
      throw new IllegalStateException(
        s"vector index at $vindexPath has no PQ tier — rebuild with PqParams")
    spark.read.schema(vindexBookSchema).parquet(s"$vindexPath/pq_books")
  }

  /** ANN search over the PQ (ADC) tier: same probed-cell static
    * pruning and tombstone filtering as [[annSearch]], but candidates
    * are read as m-code rows — the `vec` column is never selected, so
    * parquet column pruning keeps the exact vectors on disk and the
    * probe scan reads m codes instead of dim floats per row (the
    * asymmetric-distance trade that makes a 100 TB sweep read
    * code-sized pages). Scoring: candidate codes decode IN FLIGHT to
    * their codebook reconstruction (posexplode + broadcast book join
    * + sub-ordered reassembly — storage stays code-sized) and rank by
    * the strict-fold l2_sq(qv, reconstruction). That value equals the
    * classic ADC table-sum bit-for-bit — per-subspace squared
    * distances add in subspace order, the same IEEE adds in the same
    * order as the concatenated fold — while staying deterministic
    * where a groupBy-sum of table lookups is not (partial-agg order).
    * Ties break by (tags, slot). Output: (qid, rk, tag0…, slot_ns,
    * adc) — adc ascending is the approximate squared L2. */
  def annSearchAdc(queries: DataFrame, nprobe: Int, topk: Int): DataFrame =
    annSearchAdcCore(queries, nprobe, topk).drop("cid")

  /** [[annSearchAdc]] plus the winning candidate's cell id — kept
    * private so [[annSearchRerank]] can cid-prune its exact-vector
    * fetch without re-probing the centroids. */
  private def annSearchAdcCore(queries: DataFrame, nprobe: Int, topk: Int): DataFrame = {
    import graft.functions.VectorFunctions.l2sq
    require(nprobe > 0 && topk > 0, s"annSearchAdc: nprobe=$nprobe topk=$topk")
    ensureManifest(adopt = false)
    val fs = tableFs
    val meta = readVindexOptions(fs)
    if (meta.pq.isEmpty)
      throw new IllegalStateException(
        s"vector index at $vindexPath has no PQ tier — rebuild with PqParams")
    val cover = rollupCover(vindexDeltas(fs))
    if (cover.isEmpty)
      throw new IllegalStateException(s"vector index at $vindexPath has no deltas — rebuild")
    val wmCover = cover.last._3
    val cent = spark.read.schema(vindexCentSchema).parquet(s"$vindexPath/centroids")
    val books = spark.read.schema(vindexBookSchema).parquet(s"$vindexPath/pq_books")
    val probed = probeCells(queries, cent, nprobe).persist()
    try {
      val cids = probed.select(col("cid")).distinct().collect().map(_.getLong(0))
      val inv = spark.read.schema(vindexSchema).option("basePath", vindexPath)
        .parquet(cover.map(_._1.toString): _*)
        .filter(col("cid").isin(cids: _*)) // static partition prune
        .drop("delta", "vec") // codes only — the column-pruned scan
      val live = tombstoneFiltered(inv, fs, wmCover)
      // r14: codes decode IN the candidate row against a 1-row
      // codebook broadcast — zip_with pairs each code with its sub's
      // entries (both arrays are sub-ascending), flatten concatenates
      // the cv parts in sub order, exactly the old array_sort(
      // collect_list(struct(sub, cv))) reassembly — while the old
      // posexplode + book join + groupBy path paid TWO shuffles of
      // every candidate row (guide §2.4). The reconstruction array is
      // bit-identical, so the strict-fold l2sq below is too.
      val recon = live
        .crossJoin(broadcast(graft.operators.Pq.bookArray(
          books.select(col("sub"), col("cid"), col("cv")))))
        .select((tagCols.map(col) :+ col("slot_ns") :+ col("cid")) :+
          flatten(zip_with(col("codes"), col("__books"), (code, b) =>
            element_at(
              filter(b.getField("entries"), e => e.getField("cid") === code),
              1).getField("cv"))).as("recon"): _*)
      topCands(
        probed.join(recon, Seq("cid"))
          .withColumn("__score", l2sq(col("qv"), col("recon"))),
        topk, asc = true, scoreName = "adc")
    } finally probed.unpersist(blocking = false)
  }

  /** Two-stage retrieval over the stored index — IVFADC with exact
    * re-ranking (Jégou et al., PAMI 2011 §V), the production 100 TB
    * shape: stage 1 is [[annSearchAdc]]'s code-only scan of the
    * probed cells keeping a per-query SHORTLIST of `shortlist`
    * candidates by ADC distance; stage 2 fetches EXACT vectors for
    * shortlisted keys only and re-ranks by true cosine. The exact-
    * vector fetch never rescans the probed cells blind: the shortlist
    * key set is bounded by |queries|·shortlist by construction, so
    * its slot values are collected and pushed as a static `slot_ns IN
    * (…)` predicate under the same cid partition prune — parquet
    * row-group stats + dictionary pages then skip everything but the
    * shortlisted rows' neighborhoods, and only (keys, vec, seq)
    * columns are read. Equivalences that make this gateable: with
    * `shortlist` ≥ the probed cells' population the result is
    * BIT-EXACTLY [[annSearch]] (same cosine kernel, same (cos desc,
    * tags, slot) tie rule); with a small shortlist it trades recall
    * for reading dim·4 bytes on shortlist rows instead of every
    * probed row. Output: (qid, rk, tags…, slot_ns, cos). */
  def annSearchRerank(queries: DataFrame, nprobe: Int, topk: Int,
      shortlist: Int): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    require(shortlist >= topk,
      s"annSearchRerank: shortlist=$shortlist must be >= topk=$topk")
    val fs = tableFs
    val keyNames = tagCols :+ "slot_ns"
    // stage 1: code-only ADC shortlist (tombstone-filtered, cid-pruned)
    val short = annSearchAdcCore(queries, nprobe, topk = shortlist)
      .select((col("qid") +: keyNames.map(col)) :+ col("cid"): _*)
      .persist()
    try {
      // stage 2: exact vectors for shortlisted keys only. r14: the
      // shortlist keys reach the scan as a BROADCAST left-semi join
      // plus a 2-literal slot_ns range — the old per-slot `isin` push
      // was a |q|·shortlist-literal predicate (50 k literals at a
      // 1000-query serving batch: codegen/plan bloat and a brittle
      // row-group prune). The static cid partition filter stays (it
      // prunes DIRECTORIES); the min/max slot range keeps the
      // row-group stats prune with exactly two literals; the semi
      // join does the precise row selection executor-side.
      // Bounded collects by construction (cid set ≤ |q|·nprobe; the
      // range agg is one row). r15: ONE agg job carries the cid set
      // AND the slot range (was two driver reads of the shortlist).
      val rng = short.agg(collect_set(col("cid")),
        min(col("slot_ns")), max(col("slot_ns"))).head()
      val cids = rng.getSeq[Long](0).toArray
      val cover = rollupCover(vindexDeltas(fs))
      val wmCover = cover.last._3
      val scan0 = spark.read.schema(vindexSchema).option("basePath", vindexPath)
        .parquet(cover.map(_._1.toString): _*)
        .filter(col("cid").isin(cids: _*)) // static partition prune
        .drop("delta", "codes")
      val scan = // empty shortlist: no range to push, result is empty anyway
        if (rng.isNullAt(1)) scan0.filter(lit(false))
        else scan0.filter(col("slot_ns") >= rng.getLong(1) &&
          col("slot_ns") <= rng.getLong(2)) // static row-group prune, 2 literals
      val exact = tombstoneFiltered(scan, fs, wmCover)
        .join(broadcast(short.select(keyNames.map(col): _*).distinct()),
          keyNames, "left_semi")
        .select((keyNames.map(col) :+ col("vec")): _*)
      topCands(
        short.drop("cid").join(exact, keyNames)
          .join(queries.select(col("qid"), col("qv")), Seq("qid"))
          .withColumn("__score", cosine(col("qv"), col("vec")))
          .withColumn("cid", lit(-1L)), // payload unused downstream
        topk, asc = false, scoreName = "cos").drop("cid")
    } finally short.unpersist(blocking = false)
  }

  /** Index-health report — the number a production ANN deployment
    * watches to decide WHEN to re-train (buildVectorIndex) rather
    * than refresh: one row per cell with its LIVE population and its
    * quantization error against the stored centroid. A drifted corpus
    * shows up as rising qerr (vectors no longer near any centroid)
    * and skewed n_rows (hot cells absorb everything, probes read ever
    * larger fractions); both degrade gradually and invisibly to the
    * correctness gates, which is why the report exists. Reads the
    * tombstone-resolved cover with only (vec, cid) columns; the error
    * total is emitted as an INTEGER micro-unit sum
    * (Σ round(l2sq·1e6) as BIGINT) so it is order-of-aggregation
    * deterministic — comparable across runs and engines, where a
    * double sum is not. Chain metrics live beside this:
    * [[vectorIndexCoverSize]] and [[vectorIndexWatermark]]. */
  def vectorIndexStats(): DataFrame = {
    import graft.functions.VectorFunctions.l2sq
    val fs = tableFs
    readVindexOptions(fs)
    val cent = spark.read.schema(vindexCentSchema).parquet(s"$vindexPath/centroids")
    vectorIndexInverted()
      .select(col("cid"), col("vec"))
      .join(broadcast(cent), "cid")
      .withColumn("__qe", round(l2sq(col("vec"), col("cv")) * 1e6).cast("long"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__qe")).as("qerr_sum_1e6"))
  }

  /** Recall@k measurement harness — the number a production ANN
    * deployment tunes (nprobe, shortlist) WITH, at the approximation
    * settings it will actually serve (the bit-exact twins pin
    * exhaustive settings; recall under real approximation was
    * previously unmeasured). For each (nprobe, shortlist) setting —
    * shortlist <= 0 probes the exact-vector tier ([[annSearch]]),
    * shortlist > 0 the two-stage ADC+rerank tier ([[annSearchRerank]])
    * — it counts how many of the TRUE cosine top-k (brute force over
    * the tombstone-resolved index content, same (cos desc, tags,
    * slot) tie rule) the approximate probe returned. Output: one row
    * per setting (tier, nprobe, shortlist, n_queries, topk, hits,
    * possible, recall_pct).
    *
    * Scale shape: the brute-force ground truth is the EXPENSIVE side
    * by design — run it on a SAMPLE of queries (the measurement is a
    * statistic, not a serving path). The queries broadcast once and
    * the corpus never replicates; each setting's probe then reads
    * nprobe/k of the index exactly as serving does. Determinism: both
    * sides are deterministic given the stored index (strict-fold
    * cosine, total tie order), so hits is a stable integer —
    * recall(nprobe) is monotone non-decreasing (a superset of probed
    * cells can only add candidates that rank BELOW any true top-k
    * member still present), and probing all cells gives hits ==
    * possible exactly; both invariants are oracle-gated
    * (llm_ann_recall_twin). */
  def annRecallReport(queries: DataFrame, topk: Int,
      settings: Seq[(Int, Int)]): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    require(topk > 0, s"annRecallReport: topk=$topk")
    require(settings.nonEmpty, "annRecallReport: no settings to measure")
    require(settings.forall(_._1 > 0),
      s"annRecallReport: nprobe must be positive in every setting ($settings)")
    ensureManifest(adopt = false)
    val q = queries.select(col("qid"), col("qv")).persist()
    // r14: ground truth keeps its per-query top-k with the k-bounded
    // TopK aggregator (same (cos desc, tags, slot) total order as the
    // old window) — the brute-force side is the expensive one by
    // design, and the window funneled every (query × corpus) pair of
    // a query through ONE task.
    val exact = topCands(
      vectorIndexInverted().drop("codes", "cid", "seq")
        .crossJoin(broadcast(q))
        .withColumn("__score", cosine(col("qv"), col("vec")))
        .withColumn("cid", lit(-1L)), // payload unused here
      topk, asc = false, scoreName = "cos")
      .select((col("qid") +: tagCols.map(col)) :+ col("slot_ns"): _*)
      .persist()
    try {
      val nQ = q.count()
      val possible = exact.count() // < nQ·topk when the corpus is smaller than k
      val keyCols = ("qid" +: tagCols) :+ "slot_ns"
      // r14: every IVF-tier setting (shortlist <= 0) shares ONE probe
      // pass at the MAX requested nprobe. nearestCids is a sorted-
      // array prefix, so the cells probed at nprobe = np are exactly
      // the candidates whose probe RANK is <= np — one candidate scan
      // + one cosine pass, then a k-bounded top-k per setting over the
      // rank-filtered subset, instead of a full annSearch pipeline
      // (centroid read, cid collect, index scan, persist) PER setting.
      // Hits are identical by the prefix property; the rerank tier
      // still probes per setting (different shortlists genuinely
      // differ in what they scan).
      val ivfNps = settings.collect { case (np, sl) if sl <= 0 => np }.distinct
      val ivfHits: Map[Int, Long] =
        if (ivfNps.isEmpty) Map.empty
        else {
          val fs = tableFs
          readVindexOptions(fs)
          val cover = rollupCover(vindexDeltas(fs))
          if (cover.isEmpty)
            throw new IllegalStateException(
              s"vector index at $vindexPath has no deltas — rebuild")
          val wmCover = cover.last._3
          val cent = spark.read.schema(vindexCentSchema).parquet(s"$vindexPath/centroids")
          val npMax = ivfNps.max
          val probed = q
            .crossJoin(broadcast(graft.operators.Ivf.centArray(cent)))
            .select(col("qid"), col("qv"),
              posexplode(graft.operators.Ivf.nearestCids(col("qv"), col("__cents"), npMax))
                .as(Seq("__pr0", "cid")))
            .persist()
          try {
            val cids = probed.select(col("cid")).distinct().collect().map(_.getLong(0))
            val inv = spark.read.schema(vindexSchema).option("basePath", vindexPath)
              .parquet(cover.map(_._1.toString): _*)
              .filter(col("cid").isin(cids: _*)) // static partition prune
              .drop("delta", "codes")
            val cand = probed
              .join(tombstoneFiltered(inv, fs, wmCover), Seq("cid"))
              .withColumn("__score", cosine(col("qv"), col("vec")))
              .persist()
            try ivfNps.map { np =>
              val approx = topCands(cand.filter(col("__pr0") < np),
                topk, asc = false, scoreName = "cos")
              np -> approx.join(exact, keyCols, "left_semi").count()
            }.toMap
            finally cand.unpersist(blocking = false)
          } finally probed.unpersist(blocking = false)
        }
      val rows = settings.map { case (nprobe, shortlist) =>
        val hits =
          if (shortlist > 0)
            annSearchRerank(q, nprobe, topk, shortlist)
              .join(exact, keyCols, "left_semi").count()
          else ivfHits(nprobe)
        (if (shortlist > 0) "rerank" else "ivf", nprobe, shortlist,
          nQ, topk, hits, possible,
          if (possible == 0L) 100.0
          else math.rint(hits * 10000.0 / possible) / 100.0)
      }
      spark.createDataFrame(rows).toDF("tier", "nprobe", "shortlist",
        "n_queries", "topk", "hits", "possible", "recall_pct")
    } finally { q.unpersist(blocking = false); exact.unpersist(blocking = false) }
  }

  /** Pick the SMALLEST nprobe whose measured recall@k on the sample
    * queries meets `targetRecallPct` — the operational face of
    * [[annRecallReport]] (a deployment states a quality target; the
    * tuner finds the cheapest probe width that meets it, and probe
    * cost is proportional to nprobe by the static cid-prune design).
    * Candidates double from 1 up to the cell count; recall is monotone
    * non-decreasing in nprobe and the all-cells probe is exact
    * (recall 100), so the search always terminates with a setting
    * that meets any target <= 100. One [[annRecallReport]] call
    * measures every candidate. `shortlist > 0` tunes the ADC+rerank
    * tier at that shortlist instead of the exact-vector tier. */
  def annTuneNprobe(queries: DataFrame, topk: Int,
      targetRecallPct: Double, shortlist: Int = 0): Int = {
    require(targetRecallPct >= 0 && targetRecallPct <= 100,
      s"annTuneNprobe: targetRecallPct=$targetRecallPct")
    val cells = vectorIndexCentroids().count().toInt
    val cands = (Iterator.iterate(1)(_ * 2).takeWhile(_ < cells).toSeq :+ cells).distinct
    val recall = annRecallReport(queries, topk, cands.map(np => (np, shortlist)))
      .select(col("nprobe"), col("recall_pct")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    cands.find(np => recall(np) >= targetRecallPct).getOrElse(cells)
  }

  /** SQL doorway for the stored ANN index — the [[sqlView]] analog:
    * registers TWO temp views so the SQL surface covers the index
    * without the DataFrame API.
    *
    *   `name`          — the probe result of [[annSearch]](queries,
    *                     nprobe, topk): (qid, rk, tags…, slot_ns, cos)
    *   `name_vectors`  — the tombstone-resolved index content
    *                     ([[vectorIndexInverted]]): join/filter it
    *                     freely in SQL.
    *
    * The probe view snapshots the probed CELL SET at registration
    * (annSearch collects the bounded cid set to push the static
    * partition filter) — re-register after a refresh/compact to
    * re-probe, exactly as [[sqlView]] re-snapshots the LWW view. */
  def annSqlView(name: String, queries: DataFrame, nprobe: Int, topk: Int): Unit = {
    annSearch(queries, nprobe, topk).createOrReplaceTempView(name)
    vectorIndexInverted().createOrReplaceTempView(s"${name}_vectors")
  }

  /** Drop the index (and its tombstones) entirely — the explicit
    * invalidation verb; annSearch fails loudly afterwards.
    * writeLock'd like every other index mutator: an unlocked drop
    * racing an in-flight
    * refresh/compact could delete the root between their staging
    * write and rename, surfacing as a confusing partial-publish
    * failure instead of a clean drop-then-fail-loudly. */
  def dropVectorIndex(): Unit = mutate {
    val fs = tableFs
    val root = new Path(vindexPath)
    assertLeaseHeld() // fence: index drop
    if (fs.exists(root)) fs.delete(root, true)
  }

  /** Cascade for erase/removeBefore: rewrite every index delta and
    * tombstone dir dropping rows where `doomed` holds, each by a
    * [[Publish]] swap. Seq-range NAMES are preserved: the folded
    * ranges stay true (the erased rows simply no longer contribute),
    * so the cover chain never breaks. No-op when no index exists. */
  private def filterVectorIndex(doomed: DataFrame => Column): Unit = {
    val fs = tableFs
    if (!fs.exists(new Path(vindexPath))) return
    def rewrite(dir: Path, schema: StructType, partitioned: Boolean): Unit = {
      val read =
        if (partitioned)
          spark.read.schema(StructType(schema.filterNot(_.name == "delta")))
            .parquet(dir.toString)
        else spark.read.schema(schema).parquet(dir.toString)
      if (read.filter(doomed(read)).isEmpty) return // untouched dirs cost one scan, no rewrite
      Publish.dir(fs, dir, replace = true, fence = fenced) { p =>
        val w = read.filter(!doomed(read)).write.mode(SaveMode.Overwrite)
        (if (partitioned) w.partitionBy("cid") else w).parquet(p.toString)
      }
    }
    vindexDeltas(fs).foreach { case (dir, _, _) =>
      rewrite(dir, vindexSchema, partitioned = true)
    }
    vindexTombs(fs).foreach { case (dir, _, _) =>
      rewrite(dir, vindexTombSchema, partitioned = false)
    }
  }

  /** Cascade for rollbackTo: drop every index delta and tombstone
    * whose folded range reaches past the watermark — a SUFFIX of the
    * chain by construction, so the cover stays valid and the next
    * refresh re-folds the surviving rows from the cut point (the
    * rollup-cascade argument verbatim). */
  private def rollbackVectorIndex(asOfSeq: Long): Unit = {
    val fs = tableFs
    if (!fs.exists(new Path(vindexPath))) return
    (vindexDeltas(fs) ++ vindexTombs(fs)).foreach { case (dir, _, hi) =>
      if (hi > asOfSeq) fs.delete(dir, true)
    }
  }

  /** Close (kdb.go:14; dbase/dbase.go:366-384): the reference flushes
    * bucket queues and unmaps files; here parquet writes are
    * job-transactional and nothing holds file handles, so close is a
    * no-op — present for API parity. The SparkSession is shared and
    * caller-owned; this never stops it. */
  def close(): Unit = ()

  /** Buckets currently on disk (base timestamps, ascending, distinct
    * across publish batches). */
  def bucketsOnDisk(): Seq[Long] = {
    val fs = FileSystem.get(new java.net.URI(opts.dataDir), spark.sparkContext.hadoopConfiguration)
    val root = new Path(opts.tablePath)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(_.getPath.getName.startsWith("batch="))
      .flatMap(b => fs.listStatus(b.getPath).map(_.getPath.getName))
      .filter(_.startsWith("bucket_ts="))
      .map(_.stripPrefix("bucket_ts=").toLong)
      .distinct.sorted
  }
}
