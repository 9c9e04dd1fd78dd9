package graft

import java.nio.file.{Files, Path => JPath, StandardCopyOption}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._
import scala.util.Try
import graft.core._
import org.apache.hadoop.fs.{Path => HPath}

/** Fault injection through [[Publish.faultHook]]: every mutating verb
  * is interrupted at each of the four publish points, at the first
  * publish it reaches. Two outcomes are checked per point:
  *
  *  - the exception itself: readers see the before-state or the
  *    after-state, and no staging or trash dir is left behind;
  *  - a crash at that instant, modelled as a copy of the data dir taken
  *    inside the hook: after the next heal, readers again see the
  *    before-state or the after-state and no hidden dir survives. The
  *    copy's staging dirs are aged past the heal's cutoff first, since
  *    the cutoff only protects writers that may still be alive.
  *
  * "Readers see" three stores: the table (manifest plus LWW checksum),
  * the rollup and the tombstone-resolved vector index, each read by a
  * fresh engine opened with the options the manifest declares. Each
  * store must be in its before- or after-state: a verb with cascades
  * publishes store by store in a documented order (rollbackTo drops
  * the derived suffixes before it rewrites the table), and a re-run
  * completes it. */
class PublishSpec extends SparkTestBase {

  private final class InjectedFault extends RuntimeException("injected publish fault")

  private val db = "pdb"
  private val now = 11999L
  private def opts(dir: String, bucket: Long = 1000L) = EngineOptions(
    databaseName = db, dataDir = dir, indexDepth = 2, payloadSize = 8,
    bucketDuration = bucket, resolution = 10L)
  private def engine(dir: JPath, bucket: Long = 1000L) =
    new Engine(spark, opts(dir.toString, bucket), new TestClock(now))

  private val S1 = Seq("s1", "h")
  private val S2 = Seq("s2", "h")
  private val S3 = Seq("s3", "g")

  /** A store with every kind of hidden-dir publish target: a table of
    * several batches, a two-delta rollup, and a vector index whose
    * chain has two deltas and a tombstone, plus writes neither has
    * folded yet. `rollbackSeq` is a watermark inside the history. */
  private lazy val (template: JPath, rollbackSeq: Long) = {
    val dir = Files.createTempDirectory("graft-publish-template")
    val e = engine(dir)
    e.putDoubles(Seq((10000L, S1, 1.0), (10010L, S2, 2.0), (11000L, S3, 3.0)))
    e.putDoubles(Seq((10000L, S1, 4.0), (11010L, S1, 5.0)))
    val mid = e.currentSeq()
    e.refreshRollup(100L)
    e.buildVectorIndex(2, 2)
    e.putDoubles(Seq((10010L, S2, 6.0), (11020L, S2, 7.0)))
    e.refreshRollup(100L)
    e.refreshVectorIndex() // S2@10010 overwritten: a tombstone
    e.putDoubles(Seq((11030L, S3, 8.0)))
    (dir, mid)
  }

  /** A snapshot of series no other write touches, for importSnapshot. */
  private lazy val snapshotDir: String = {
    val dir = Files.createTempDirectory("graft-publish-src")
    val e = engine(dir)
    e.putDoubles(Seq((10020L, Seq("imp", "x"), 9.0), (11040L, Seq("imp", "y"), 10.0)))
    val out = dir.resolve("snap").toString
    e.exportSnapshot(e.currentSeq(), out)
    out
  }

  private val verbs: Seq[(String, Engine => Any)] = Seq(
    "put" -> (_.putDoubles(Seq((11050L, Seq("s9", "h"), 9.0)))),
    "importSnapshot" -> (_.importSnapshot(snapshotDir)),
    "compactBucket" -> (_.compactBucket(10000L)),
    "erase" -> (_.erase(Seq("s1", ""))),
    "rollbackTo" -> (_.rollbackTo(rollbackSeq)),
    "rebucket" -> (_.rebucket(2000L)),
    "refreshRollup" -> (_.refreshRollup(100L)),
    "compactRollup" -> (_.compactRollup()),
    "buildVectorIndex" -> (_.buildVectorIndex(2, 2)),
    "refreshVectorIndex" -> (_.refreshVectorIndex()),
    "compactVectorIndex" -> (_.compactVectorIndex()))

  /** The verbs whose first publish swaps over an existing target. */
  private val swaps = Set("erase", "rebucket", "buildVectorIndex")

  private val points = Seq(Publish.Point.Stage, Publish.Point.AfterMetrics,
    Publish.Point.BeforeRename, Publish.Point.BetweenRenames)

  private def copyTree(src: JPath, dst: JPath): Unit = {
    val st = Files.walk(src)
    try st.iterator().asScala.foreach { p =>
      val to = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to, StandardCopyOption.COPY_ATTRIBUTES)
    } finally st.close()
  }

  private def fresh(): JPath = {
    val dir = Files.createTempDirectory("graft-publish-run")
    copyTree(template, dir)
    dir
  }

  /** Every staging or trash entry under `dir`. */
  private def hidden(dir: JPath): Seq[String] = {
    val st = Files.walk(dir)
    try st.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(".graft_stage_") || n.startsWith(".graft_trash_")).toList
    finally st.close()
  }

  private def outcome[T](body: => T): String =
    Try(body).fold(t => s"fails: ${t.getClass.getSimpleName}", _.toString)

  /** What readers see in the store under `dir`. */
  private def state(dir: JPath): Seq[String] = {
    val manifest = dir.resolve(db).resolve("_graft_options")
    val text = if (Files.exists(manifest)) Files.readString(manifest) else "<no manifest>"
    val bucket = text.linesIterator.collectFirst {
      case l if l.startsWith("bucketDuration=") => l.stripPrefix("bucketDuration=").toLong
    }.getOrElse(1000L)
    val e = engine(dir, bucket)
    Seq(text + outcome(e.lwwChecksum(Long.MaxValue)),
      outcome(e.rollup(0L, 12000L, Seq("", ""), 100L).collect().map(_.toString).sorted.toList),
      outcome(e.vectorIndexInverted().collect().map(_.toString).sorted.toList))
  }

  private lazy val expected: Map[String, (Seq[String], Seq[String])] = verbs.map {
    case (name, verb) =>
      val dir = fresh()
      val before = state(dir)
      verb(engine(dir))
      name -> (before, state(dir))
  }.toMap

  /** Run `verb` on a fresh store, faulting at the first `point` it
    * reaches; returns the store and, if the point was reached, the
    * crash image taken there. */
  private def faulted(verb: Engine => Any, point: Publish.Point): (JPath, Option[JPath]) = {
    val dir = fresh()
    var image: Option[JPath] = None
    Publish.faultHook = (pt, target) =>
      if (pt == point && image.isEmpty && target.toUri.getPath.startsWith(dir.toString)) {
        val crash = Files.createTempDirectory("graft-publish-crash")
        copyTree(dir, crash)
        image = Some(crash)
        throw new InjectedFault
      }
    try Try(verb(engine(dir))).failed.foreach { t =>
      if (!t.isInstanceOf[InjectedFault]) throw t
    } finally Publish.faultHook = (_, _) => ()
    (dir, image)
  }

  /** Age every staging entry of a crash image past the heal cutoff. */
  private def age(dir: JPath): Unit = {
    val old = FileTime.fromMillis(System.currentTimeMillis() - 2 * 3600L * 1000)
    val st = Files.walk(dir)
    try st.iterator().asScala.toList
      .filter(_.getFileName.toString.startsWith(".graft_stage_"))
      .foreach(Files.setLastModifiedTime(_, old))
    finally st.close()
  }

  for ((name, verb) <- verbs; point <- points)
    test(s"$name faulted at $point: before- or after-state, no hidden dir survives") {
      val (before, after) = expected(name)
      val (dir, image) = faulted(verb, point)
      assert(image.isDefined === (point != Publish.Point.BetweenRenames || swaps(name)),
        s"$name should ${if (image.isDefined) "not " else ""}reach $point")
      def check(seen: Seq[String], what: String): Unit =
        seen.indices.foreach { i =>
          assert(seen(i) == before(i) || seen(i) == after(i),
            s"$what at $point: store $i is\n${seen(i)}\nnot\n${before(i)}\nor\n${after(i)}")
        }
      check(state(dir), "exception")
      assert(hidden(dir).isEmpty, s"exception at $point left ${hidden(dir)}")
      image.foreach { crash =>
        age(crash)
        engine(crash).heal()
        check(state(crash), "healed crash")
        assert(hidden(crash).isEmpty, s"crash at $point: ${hidden(crash)} survived the heal")
      }
    }

  test("a put after a crash inside rebucket's swap brings the old table back, no row lost") {
    val (dir, image) = faulted(_.rebucket(2000L), Publish.Point.BetweenRenames)
    val crash = image.getOrElse(fail("rebucket never reached its swap"))
    assert(!Files.exists(crash.resolve(db)), "the crash image must hold the table in trash")
    val (rowsBefore, _) = engine(dir).lwwChecksum(Long.MaxValue)
    val e = engine(crash)
    assert(e.putDoubles(Seq((11060L, Seq("after", "crash"), 1.0))) === Map("ok" -> 1L))
    val (rows, _) = e.lwwChecksum(Long.MaxValue)
    assert(rows === rowsBefore + 1)
    assert(Files.readString(crash.resolve(db).resolve("_graft_options"))
      .contains("bucketDuration=1000"))
    assert(e.getDoubles(10000L, 10010L, S1).collect().map(_.getAs[Double]("value")).toSeq
      === Seq(4.0))
  }

  test("a put whose write job throws leaves no staging dir") {
    // the write tasks fail creating their part files, after the job has
    // created the staging dir
    val dir = Files.createTempDirectory("graft-publish-throw")
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultyFs].getName)
    val e = new Engine(spark, opts(s"faulty://$dir"), new TestClock(now))
    e.putDoubles(Seq((11000L, S1, 1.0)))
    FaultyFs.armed = true
    try intercept[Exception](e.putDoubles(Seq((11010L, S1, 2.0))))
    finally FaultyFs.armed = false
    val left = dir.resolve(db).toFile.listFiles().map(_.getName).filter(_.startsWith("."))
    assert(left.isEmpty, s"left behind: ${left.toList}")
    assert(e.getDoubles(11000L, 11020L, S1).collect().map(_.getAs[Double]("value")).toSeq
      === Seq(1.0, 0.0))
  }

  test("the heal leaves other databases' hidden dirs in a shared data dir alone") {
    val dir = Files.createTempDirectory("graft-publish-shared")
    val e = engine(dir)
    e.putDoubles(Seq((11000L, S1, 1.0)))
    val other = new HPath(dir.toString, "other")
    val fs = other.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val trash = Publish.trashPath(other)
    assert(fs.mkdirs(trash))
    e.heal()
    assert(fs.exists(trash) && !fs.exists(other))
  }
}

/** A local file system under the `faulty:` scheme whose data-file
  * creation fails while `FaultyFs.armed` is set. */
class FaultyFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faulty:///")
  override def getScheme: String = "faulty"
  private def check(f: HPath): Unit =
    if (FaultyFs.armed && f.getName.startsWith("part-"))
      throw new java.io.IOException(s"injected write failure: $f")
  override protected def createOutputStream(f: HPath, append: Boolean): java.io.OutputStream = {
    check(f); super.createOutputStream(f, append)
  }
  override protected def createOutputStreamWithMode(f: HPath, append: Boolean,
      permission: org.apache.hadoop.fs.permission.FsPermission): java.io.OutputStream = {
    check(f); super.createOutputStreamWithMode(f, append, permission)
  }
}

object FaultyFs {
  @volatile var armed = false
}
