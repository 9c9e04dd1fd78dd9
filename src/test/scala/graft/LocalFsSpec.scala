package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._
import scala.util.Try
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path => HPath,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import graft.core._
import graft.streaming.StreamingIngest

/** The engine's `file:` store makes no forks ([[NoForkLocalFileSystem]],
  * [[NoForkLocalFs]]), and it answers what Hadoop's stock local FS
  * answers: the same modes under the same umask, the same link
  * status. */
class LocalFsSpec extends SparkTestBase {

  private val now = 11999L
  private def opts(dir: String) = EngineOptions(
    databaseName = "fdb", dataDir = dir, indexDepth = 2, payloadSize = 8,
    bucketDuration = 1000L, resolution = 10L)
  private def dbl(v: Double): Array[Byte] = java.nio.ByteBuffer.allocate(8).putDouble(v).array()
  private val pointSchema = StructType.fromDDL(
    "ts BIGINT, tags ARRAY<STRING>, payload BINARY, seq BIGINT")

  private def points(ts: Seq[Long], series: String): Seq[Point] =
    ts.zipWithIndex.map { case (t, i) => Point(t, Seq(series, "h"), dbl(i + 1.0)) }

  /** `ts` as a DataFrame put over two partitions, seqs from `seq0`. */
  private def frame(ts: Seq[Long], series: String, seq0: Long) =
    spark.createDataFrame(spark.sparkContext.parallelize(
      points(ts, series).zipWithIndex.map { case (p, i) => Row(p.ts, p.tags, p.payload, seq0 + i) },
      2), pointSchema)

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", java.nio.file.LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0xfff

  /** The commands of every process started inside `body` with a Hadoop
    * frame on its stack. */
  private def hadoopForks(body: => Unit): Seq[String] = {
    val out = Files.createTempFile("graft-forks", ".jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.setDestination(out)
      rec.start()
      try body finally rec.stop()
    } finally rec.close()
    RecordingFile.readAllEvents(out).asScala.toSeq
      .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
        _.getMethod.getType.getName.startsWith("org.apache.hadoop"))))
      .map(_.getString("command"))
  }

  test("every engine writer on file: starts no process") {
    // Hadoop's Shell probes for setsid once, when its class loads
    Class.forName("org.apache.hadoop.util.Shell")
    val dir = Files.createTempDirectory("graft-nofork")
    // the streaming source reads through a symlinked directory, as
    // stream_rollup_twin does
    val src = Files.createTempDirectory("graft-nofork-src")
    frame(Seq(11500L, 11510L), "st", 200L).write.parquet(src.resolve("t").toString)
    val link = Files.createSymbolicLink(dir.resolve("src-link"), src.resolve("t"))
    val forks = hadoopForks {
      val clock = new TestClock(now)
      val e = new Engine(spark, opts(dir.toString), clock)
      // the DataFrame put first: put(Seq) then numbers after its seqs
      assert(e.put(frame(Seq(10020L, 11020L), "b", 1L)) === Map("ok" -> 2L))
      assert(e.put(points(Seq(10000L, 10010L, 11000L), "a")) === Map("ok" -> 3L))
      e.compactBucket(10000L)
      e.refreshRollup(100L)
      e.buildVectorIndex(2, 1)
      e.put(points(Seq(11030L), "c"))
      assert(e.refreshVectorIndex() === 1L)
      clock.goto(now + 1000L) // bucket 10000 leaves the hot window
      e.removeBefore(11000L)
      val stream = spark.readStream.schema(pointSchema).parquet(link.toString)
      val q = new StreamingIngest(e).start(stream,
        dir.resolve("ckpt").toString, rollupResolution = Some(100L))
      try q.processAllAvailable() finally q.stop()
      assert(e.getDoubles(11500L, 11520L, Seq("st", "h")).collect()
        .map(_.getAs[Double]("value")).toSeq === Seq(1.0, 2.0))
    }
    assert(forks.isEmpty, s"processes started by Hadoop: ${forks.groupBy(_.takeWhile(_ != ' '))
      .map { case (c, n) => s"$c x${n.size}" }}")
  }

  test("a put writes the modes a stock LocalFileSystem writes under the same umask") {
    // both stores under their own scheme, uncached, so the put's planner
    // and tasks read the umask set here; 027 differs from the process
    // umask, so a skipped chmod shows
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.stocklocal.impl", "fs.stocklocal.impl.disable.cache",
      "fs.noforklocal.impl", "fs.noforklocal.impl.disable.cache", "fs.permissions.umask-mode")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.stocklocal.impl", classOf[StockSchemeFs].getName)
    conf.set("fs.noforklocal.impl", classOf[NoForkSchemeFs].getName)
    conf.set("fs.stocklocal.impl.disable.cache", "true")
    conf.set("fs.noforklocal.impl.disable.cache", "true")
    conf.set("fs.permissions.umask-mode", "027")
    def tree(scheme: String): Seq[(String, Int)] = {
      val dir = Files.createTempDirectory(s"graft-modes-$scheme")
      val e = new Engine(spark, opts(s"$scheme://$dir"), new TestClock(now))
      e.put(points(Seq(10000L, 11000L), "a"))
      e.put(frame(Seq(10010L, 11010L), "b", 100L))
      val st = Files.walk(dir.resolve("fdb"))
      try st.iterator().asScala.toList.map { p =>
        dir.relativize(p).toString.replaceAll("[0-9a-f]{32}", "<id>")
          .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>") ->
          mode(p)
      }.sorted finally st.close()
    }
    val (stock, nofork) = try (tree("stocklocal"), tree("noforklocal"))
    finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    assert(stock.map(_._2).toSet === Set(Integer.parseInt("640", 8), Integer.parseInt("750", 8)),
      s"stock modes: $stock")
    assert(stock.exists(_._1.endsWith(".crc")))
    assert(nofork === stock)
  }

  test("explicit modes and the sticky-bit fallback match stock chmod") {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.permissions.umask-mode", "002")
    def local(fs: FileSystem): FileSystem = { fs.initialize(URI.create("file:///"), conf); fs }
    val stock = local(new LocalFileSystem())
    val nofork = local(new NoForkLocalFileSystem())
    def oct(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)
    def modes(fs: FileSystem): Seq[Int] = {
      val d = Files.createTempDirectory("graft-chmod")
      def at(n: String) = new HPath(d.toUri.toString, n)
      fs.create(at("f-default")).close()
      fs.create(at("f-0640"), oct("640"), true, 4096, 1.toShort, 1L << 25, null).close()
      fs.mkdirs(at("d-default"))
      fs.mkdirs(at("d-0750"), oct("750"))
      fs.mkdirs(at("d-sticky"))
      fs.setPermission(at("d-sticky"), oct("1777"))
      fs.create(at("f-set")).close()
      fs.setPermission(at("f-set"), oct("604"))
      Seq("f-default", "f-0640", "d-default", "d-0750", "d-sticky", "f-set").map(n => mode(d.resolve(n)))
    }
    val expect = Seq("664", "640", "775", "750", "1777", "604").map(Integer.parseInt(_, 8))
    assert(modes(stock) === expect)
    assert(modes(nofork) === expect)
  }

  test("getFileLinkStatus answers as stock on files, dirs, links, dangling links and missing paths") {
    val d = Files.createTempDirectory("graft-links")
    val file = Files.writeString(d.resolve("file"), "x")
    val sub = Files.createDirectory(d.resolve("dir"))
    Files.createSymbolicLink(d.resolve("to-file"), file)
    Files.createSymbolicLink(d.resolve("to-dir"), sub)
    Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    val names = Seq("file", "dir", "to-file", "to-dir", "dangling", "missing")
    def answer(status: HPath => org.apache.hadoop.fs.FileStatus)(p: HPath): String =
      Try(status(p)).fold(t => t.getClass.getName, s =>
        s"link=${s.isSymlink} dir=${s.isDirectory} len=${s.getLen} " +
          (if (s.isSymlink) s"target=${s.getSymlink}" else ""))
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    def raw(fs: RawLocalFileSystem): RawLocalFileSystem = { fs.initialize(URI.create("file:///"), conf); fs }
    val stockFs = raw(new RawLocalFileSystem())
    val noforkFs = raw(new NoForkRawLocalFileSystem())
    // the FileContext twins, as the streaming checkpoint log builds them
    def fc(impl: Class[_]): FileContext = {
      val c = new Configuration(conf)
      c.set("fs.AbstractFileSystem.file.impl", impl.getName)
      FileContext.getFileContext(URI.create("file:///"), c)
    }
    val stockFc = fc(classOf[org.apache.hadoop.fs.local.LocalFs])
    val noforkFc = fc(classOf[NoForkLocalFs])
    for (n <- names; p <- Seq(new HPath(d.resolve(n).toString), new HPath(d.resolve(n).toUri))) {
      val fsWant = answer(stockFs.getFileLinkStatus)(p)
      assert(answer(noforkFs.getFileLinkStatus)(p) === fsWant, s"FileSystem, $p")
      val fcWant = answer(stockFc.getFileLinkStatus)(p)
      assert(answer(noforkFc.getFileLinkStatus)(p) === fcWant, s"FileContext, $p")
    }
    assert(answer(stockFs.getFileLinkStatus)(new HPath(d.resolve("missing").toString)) ===
      classOf[java.io.FileNotFoundException].getName)
  }
}

/** Hadoop's stock checksummed local FS and the engine's fork-free one,
  * each under its own scheme, so one put can run through each. */
class StockSchemeFs extends LocalFileSystem(new RawLocalFileSystem {
  override def getUri: URI = URI.create("stocklocal:///")
}) {
  override def getScheme: String = "stocklocal"
}

class NoForkSchemeFs extends LocalFileSystem(new NoForkRawLocalFileSystem {
  override def getUri: URI = URI.create("noforklocal:///")
}) {
  override def getScheme: String = "noforklocal"
}
