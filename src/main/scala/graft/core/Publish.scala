package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}

/** The engine's one publish primitive: every staged write, swap,
  * rename and sweep of a hidden dir goes through here, so the crash
  * contract is stated (and implemented) once.
  *
  * Naming. A publish into `<parent>/<name>` stages in the sibling
  * `<parent>/.graft_stage_<uuid>_<name>`; a swap parks the old target
  * as `<parent>/.graft_trash_<name>`. Both names start with a dot, so
  * Spark's file listing never reads them, and both encode the target's
  * name, so a heal of a shared parent (the data dir holding many
  * databases) only ever touches the dirs of the targets it owns. A
  * target whose name the write job's metrics complete
  * ([[observedNamed]]) stages under the known prefix of that name.
  *
  * Crash contract.
  *  - A crash or exception before the first rename leaves the target
  *    untouched. An exception deletes the staging dir (`finally`); a
  *    crash leaves it behind, invisible, for [[heal]].
  *  - A fresh target appears with ONE rename: readers see it whole or
  *    not at all.
  *  - A swap renames the target to trash, then the staging dir onto the
  *    target, then deletes the trash. A failure of the second rename
  *    renames the trash back. A crash between the renames leaves the
  *    target missing and its trash present; [[heal]] renames the trash
  *    back, so readers see the old target again.
  *  - When the write job's observed metrics are absent (AQE's empty-
  *    relation propagation removes the CollectMetrics node of a job
  *    whose rows were runtime-empty), [[observed]] never publishes.
  *
  * This is the seam an object store without atomic rename would
  * replace (conditional put of a manifest); nothing else in the engine
  * renames. */
private[graft] object Publish {

  /** Where a fault can be injected; see [[faultHook]]. */
  private[graft] sealed trait Point
  private[graft] object Point {
    /** The staging write has run; its metrics are not yet examined. */
    case object Stage extends Point
    /** The metrics are examined and the publish decision is made. */
    case object AfterMetrics extends Point
    /** Immediately before the first rename. */
    case object BeforeRename extends Point
    /** A swap's target is in trash; the staging dir is not yet renamed. */
    case object BetweenRenames extends Point
  }

  /** Fault injection for tests: called with each point reached and the
    * publish's target. A no-op in production. */
  @volatile private[graft] var faultHook: (Point, Path) => Unit = (_, _) => ()

  private val StagePrefix = ".graft_stage_"
  private val TrashPrefix = ".graft_trash_"
  private val UuidLen = 32

  /** Staging dirs younger than this may belong to a live writer; the
    * heal leaves them alone. */
  private val StaleStagingMs = 3600L * 1000

  private def stagingPath(target: Path): Path = new Path(target.getParent,
    s"$StagePrefix${java.util.UUID.randomUUID().toString.replace("-", "")}_${target.getName}")

  private[graft] def trashPath(target: Path): Path =
    new Path(target.getParent, s"$TrashPrefix${target.getName}")

  /** Stage a directory with `write`, then publish it at `target`. With
    * `replace`, an existing target is trash-swapped; without, an
    * existing target fails the publish. `fence` runs right before the
    * first rename (the writer-lease check of destructive verbs). */
  def dir(fs: FileSystem, target: Path, replace: Boolean = false,
      fence: () => Unit = () => ())(write: Path => Unit): Unit =
    run(fs, target, replace, fence)(write)(Some(target))

  /** [[dir]] for a verb whose write job observes metrics: `write`
    * returns them (empty when absent), `decide` sees present metrics
    * only and says whether to publish. Absent metrics never publish.
    * Returns the metrics. */
  def observed(fs: FileSystem, target: Path, replace: Boolean = false,
      fence: () => Unit = () => ())(write: Path => Map[String, Any])(
      decide: Map[String, Any] => Boolean): Map[String, Any] =
    observedNamed(fs, target, replace, fence)(write)(m =>
      if (decide(m)) Some(target.getName) else None)

  /** [[observed]] where the metrics name the target, such as a fresh
    * seq-range dir whose upper end is the highest seq the write job
    * saw: the staging dir is named after `stem`, and `name` maps
    * present metrics to the target's name under `stem`'s parent, or
    * to None to discard. */
  def observedNamed(fs: FileSystem, stem: Path, replace: Boolean = false,
      fence: () => Unit = () => ())(write: Path => Map[String, Any])(
      name: Map[String, Any] => Option[String]): Map[String, Any] = {
    var m = Map.empty[String, Any]
    run(fs, stem, replace, fence)(staging => m = write(staging))(
      if (m.nonEmpty) name(m).map(new Path(stem.getParent, _)) else None)
    m
  }

  /** Stage under `stem`'s name, then publish at the target `decide`
    * returns, if any. The fault points up to the decision report
    * `stem`, the rename points the target. */
  private def run(fs: FileSystem, stem: Path, replace: Boolean, fence: () => Unit)(
      write: Path => Unit)(decide: => Option[Path]): Unit = {
    val staging = stagingPath(stem)
    try {
      write(staging)
      faultHook(Point.Stage, stem)
      val go = decide
      faultHook(Point.AfterMetrics, stem)
      go.foreach { target =>
        fence()
        faultHook(Point.BeforeRename, target)
        if (!fs.exists(target)) rename(fs, staging, target)
        else if (replace) swap(fs, staging, target)
        else throw new IllegalStateException(s"publish: $target already exists")
      }
    } finally fs.delete(staging, true)
  }

  private def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new IllegalStateException(s"publish: could not rename $src to $dst")

  private def swap(fs: FileSystem, staging: Path, target: Path): Unit = {
    val trash = trashPath(target)
    fs.delete(trash, true) // the target exists, so any trash is stale
    rename(fs, target, trash)
    try {
      faultHook(Point.BetweenRenames, target)
      rename(fs, staging, target)
    } catch {
      case e: Throwable => fs.rename(trash, target); throw e
    }
    fs.delete(trash, true)
  }

  /** Write a small file beside `target` and rename it into place. A
    * reader never sees a truncated body. Without `replace`, the rename
    * is the whole claim (on HDFS it fails onto an existing file; the
    * local FS replaces, so callers that need first-writer-wins read the
    * result back). With `replace`, a failed rename deletes the target
    * and retries. Returns whether the file landed. */
  def file(fs: FileSystem, target: Path, body: String, replace: Boolean): Boolean = {
    val tmp = stagingPath(target)
    try {
      val out = fs.create(tmp, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      var ok = fs.rename(tmp, target)
      if (!ok && replace) {
        try fs.delete(target, false) catch { case _: java.io.IOException => () }
        ok = fs.rename(tmp, target)
      }
      ok
    } finally
      try fs.delete(tmp, false) catch { case _: java.io.IOException => () }
  }

  /** Heal `root`: delete staging dirs and files older than the 1 h
    * cutoff, rename each trash dir back onto its missing target, and
    * delete trash whose target exists. Only entries whose target name
    * `owns` accepts are touched. */
  def heal(fs: FileSystem, root: Path, owns: String => Boolean = _ => true): Unit = {
    val entries =
      try fs.listStatus(root)
      catch { case _: java.io.FileNotFoundException => Array.empty[org.apache.hadoop.fs.FileStatus] }
    val cutoff = System.currentTimeMillis() - StaleStagingMs
    entries.foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(StagePrefix)) {
        if (owns(n.stripPrefix(StagePrefix).drop(UuidLen + 1)) && st.getModificationTime < cutoff)
          fs.delete(st.getPath, true)
      } else if (n.startsWith(TrashPrefix) && owns(n.stripPrefix(TrashPrefix))) {
        val target = new Path(root, n.stripPrefix(TrashPrefix))
        if (fs.exists(target)) fs.delete(st.getPath, true)
        else fs.rename(st.getPath, target)
      }
    }
  }
}
