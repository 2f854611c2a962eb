package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** Crash-safe replace of one whole directory (a refit's frozen model,
  * a takedown's rewritten `batch=` dir, a takedown journal record),
  * the directory counterpart of [[SmallFile.replace]]. Every name it
  * writes beside the live dir starts with a dot, so parquet discovery
  * of the parent never sees one.
  *
  * [[swap]]: `write` fills a writing dir; renaming it to the staged
  * name marks it complete; the live dir is parked, the staged dir goes
  * live and the park is dropped. The steps assume one writer per dir
  * (callers hold the state lease) and need no atomic replace from the
  * file system: each is a rename onto a free name or a delete. A swap
  * runs [[repair]] first, because a Hadoop rename onto an existing dir
  * moves the source inside it.
  *
  * [[repair]] finishes what a crash left, so a reader and the next
  * writer find exactly the old content or exactly the new:
  *  - a staged dir is complete, so it rolls forward (live, if there is
  *    one, is parked, the staged dir goes live, the park goes);
  *  - otherwise a park with no live dir is restored;
  *  - writing dirs, and any park beside a live dir, are dropped.
  *
  * [[interrupted]] is the window a reader cannot read through: a park
  * and no live dir.
  *
  * Leftovers of the per-caller sequences this replaced repair under
  * the same rules: `<dir>.old.tmp` and `.takedown-old-<dir>` are
  * parks, `<dir>.refit.tmp` and `.takedown-stage-<dir>` are writing
  * dirs, and a takedown journal's `.td-stage-<fp>` (for `td=<fp>`) is
  * staged when it holds parquet, as those sequences read it. */
private[graft] object DirSwap {

  private object Role extends Enumeration { val Writing, Staged, Parked, StagedIfParquet = Value }
  import Role._

  /** The leftover `prefix + live.stripPrefix(strip) + suffix` beside a
    * live dir whose name starts with `strip`. `StagedIfParquet` was
    * written in place with no completion mark: it counts as staged
    * when it holds a non-empty parquet file. */
  private final case class Leftover(role: Role.Value, prefix: String, suffix: String = "", strip: String = "") {
    def of(live: Path): Option[Path] = Option.when(live.getName.startsWith(strip))(
      new Path(live.getParent, prefix + live.getName.stripPrefix(strip) + suffix))
    def liveName(n: String): Option[String] =
      Option.when(n.length > prefix.length + suffix.length && n.startsWith(prefix) && n.endsWith(suffix))(
        strip + n.substring(prefix.length, n.length - suffix.length))
  }

  private val writing = Leftover(Writing, ".swap-writing-")
  private val staged = Leftover(Staged, ".swap-staged-")
  private val parked = Leftover(Parked, ".swap-parked-")
  /** In repair order: the first staged dir rolls forward, else the
    * first park restores. */
  private val leftovers = Seq(staged, Leftover(StagedIfParquet, ".td-stage-", strip = "td="),
    parked, Leftover(Parked, "", ".old.tmp"), Leftover(Parked, ".takedown-old-"),
    writing, Leftover(Writing, "", ".refit.tmp"), Leftover(Writing, ".takedown-stage-"))

  def swap(fs: FileSystem, live: Path)(write: Path => Unit): Unit = {
    repair(fs, live)
    val (w, s) = (writing.of(live).get, staged.of(live).get)
    write(w)
    move(fs, w, s)
    goLive(fs, s, live)
  }

  def repair(fs: FileSystem, live: Path): Unit = {
    val found = leftovers.flatMap(l => l.of(live).filter(fs.exists).map(l.role -> _))
    found.collectFirst {
      case (Staged, p) => p
      case (StagedIfParquet, p) if fs.listStatus(p).exists(f =>
        f.getPath.getName.endsWith(".parquet") && f.getLen > 0) => p
    } match {
      case Some(s) => goLive(fs, s, live)
      case None => if (!fs.exists(live)) found.collectFirst { case (Parked, p) => p }.foreach(move(fs, _, live))
    }
    found.foreach { case (_, p) => fs.delete(p, true) }
  }

  /** [[repair]] of every dir under `root` that a swap left something
    * beside, including one whose live dir is gone. */
  def repairAll(fs: FileSystem, root: Path): Unit =
    fs.listStatus(root).map(_.getPath.getName).flatMap(n => leftovers.iterator.flatMap(_.liveName(n)).nextOption())
      .distinct.foreach(n => repair(fs, new Path(root, n)))

  def interrupted(fs: FileSystem, live: Path): Boolean =
    !fs.exists(live) && leftovers.exists(l => l.role == Parked && l.of(live).exists(fs.exists))

  /** The staged dir goes live; a live dir it replaces is parked until
    * then, so no step leaves neither. */
  private def goLive(fs: FileSystem, staged: Path, live: Path): Unit = {
    val park = parked.of(live).get
    if (fs.exists(live)) { fs.delete(park, true); move(fs, live, park) }
    move(fs, staged, live)
    fs.delete(park, true)
  }

  private def move(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(s"cannot rename $from to $to")
}
