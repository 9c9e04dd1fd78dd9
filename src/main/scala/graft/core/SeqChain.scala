package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}

/** A chain of seq-range dirs `<root>/<prefix><lo>_<hi>`, each holding
  * what was folded from the engine rows with ingest seq in (lo, hi]:
  * the rollup's deltas, the vector index's deltas and its tombstones.
  * The folded range IS the directory name, so there is no separate
  * watermark file to corrupt, and one [[Publish]] carries range and
  * data together; a re-run after any crash sees the watermark the
  * surviving dirs define.
  *
  * Readers take the strict [[cover]]: from the chain origin (lo = −1),
  * repeatedly the widest link continuing the chain. Links the cover has
  * passed (a crashed compaction's originals) are ignored, so additive
  * contents are never double-counted; a gap or an overlap of the cover
  * boundary fails loudly. Monitoring takes the lenient [[validPrefix]]
  * instead, which stops at the first gap (a crashed swap's hole until
  * the next heal) and under-reports the watermark. Every verb that
  * mutates a chain heals its root first, so a link a crashed swap left
  * in trash is back before the chain is listed. `store` names the
  * chain in errors. */
private[graft] final case class SeqChain(root: Path, prefix: String, store: String) {
  import SeqChain.Link

  /** Committed links, unordered. */
  def links(fs: FileSystem): Seq[Link] = {
    val entries =
      try fs.listStatus(root)
      catch { case _: java.io.FileNotFoundException => Array.empty[org.apache.hadoop.fs.FileStatus] }
    entries.toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (!n.startsWith(prefix)) None
      else n.stripPrefix(prefix).split("_", 2) match {
        case Array(lo, hi) => scala.util.Try(Link(st.getPath, lo.toLong, hi.toLong)).toOption
        case _ => None
      }
    }
  }

  /** The strict cover of the committed links, in chain order. */
  def cover(fs: FileSystem): Seq[Link] = cover(links(fs))

  /** The strict cover of `links`, in chain order. */
  def cover(links: Seq[Link]): Seq[Link] = walk(links) match {
    case (keep, None) => keep
    case (_, Some((covered, next))) =>
      throw new IllegalStateException(
        s"$store delta chain broken at seq $covered (next delta covers (${next.lo}, ${next.hi}])")
  }

  /** The longest valid prefix of the cover, in chain order. */
  def validPrefix(fs: FileSystem): Seq[Link] = walk(links(fs))._1

  /** The one greedy walk: the cover up to the first break, and the
    * break (seq covered so far, first link that does not continue). */
  private def walk(links: Seq[Link]): (Seq[Link], Option[(Long, Link)]) = {
    var covered = -1L
    var break: Option[(Long, Link)] = None
    val keep = Seq.newBuilder[Link]
    val it = links.sortBy(l => (l.lo, -l.hi)).iterator
    while (break.isEmpty && it.hasNext) {
      val l = it.next()
      if (l.hi > covered) {
        if (l.lo != covered) break = Some((covered, l))
        else { keep += l; covered = l.hi }
      } // else: behind the cover (a crashed compaction's leftover)
    }
    (keep.result(), break)
  }

  /** Compaction skeleton: delete the links the cover of `all` has
    * passed, then, when `fold(cover)`, publish `write(cover, staging)`
    * as the one link `<prefix><lo>_<hi>` spanning the cover and delete
    * the links it folded. The merged link publishes first: a crash
    * before the deletes leaves an overlap the cover resolves in its
    * favour (widest link at the chain origin), and the next compaction
    * finishes the deletes. A one-link cover folds in place through a
    * [[Publish]] swap. `fence` runs before the first delete and before
    * the publish's rename. Returns the links folded (empty when
    * `fold` declined). */
  def compact(fs: FileSystem, all: Seq[Link], fence: () => Unit)(fold: Seq[Link] => Boolean)(
      write: (Seq[Link], Path) => Unit): Seq[Link] = {
    val keep = cover(all)
    fence()
    all.filterNot(keep.contains).foreach(l => fs.delete(l.path, true))
    if (!fold(keep)) return Seq.empty
    val target = new Path(root, s"$prefix${keep.head.lo}_${keep.last.hi}")
    Publish.dir(fs, target, replace = true, fence = fence)(write(keep, _))
    keep.foreach(l => if (l.path.getName != target.getName) fs.delete(l.path, true))
    keep
  }

  /** Erase/retention cascade: rewrite links in place. `edit` returns
    * the writer of a link's replacement, or None to leave it alone;
    * each replacement swaps in through [[Publish]] under the link's own
    * name. The name stays true (those seqs were folded; the removed rows
    * simply no longer contribute), so the cover never breaks. */
  def rewrite(fs: FileSystem, fence: () => Unit)(edit: Link => Option[Path => Unit]): Unit =
    links(fs).foreach(l => edit(l).foreach(Publish.dir(fs, l.path, replace = true, fence = fence)(_)))

  /** Rollback cascade: delete every link whose range ends above `seq`.
    * Those links are a suffix of the chain, so the cover stays valid
    * and the next refresh re-folds the surviving rows from the cut. */
  def dropAbove(fs: FileSystem, seq: Long): Unit =
    links(fs).foreach(l => if (l.hi > seq) fs.delete(l.path, true))
}

private[graft] object SeqChain {
  /** One link: its dir and the seq range (lo, hi] it folded. */
  final case class Link(path: Path, lo: Long, hi: Long)
}
