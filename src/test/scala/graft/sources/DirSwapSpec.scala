package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class DirSwapSpec extends AnyFunSuite {

  private val local: FileSystem = FileSystem.getLocal(new Configuration())

  /** The local file system, crashing at the rename or delete after the
    * first `allowed` ones: the call throws and nothing after it runs. */
  private def crashingAfter(allowed: Int): FileSystem = new FilterFileSystem(local) {
    private var left = allowed
    private def step(): Unit = {
      if (left == 0) throw new java.io.IOException("crash")
      left -= 1
    }
    override def rename(src: Path, dst: Path): Boolean = { step(); super.rename(src, dst) }
    override def delete(p: Path, recursive: Boolean): Boolean = { step(); super.delete(p, recursive) }
  }

  private def fill(fs: FileSystem, dir: Path, v: String): Unit = {
    val out = fs.create(new Path(dir, "v.txt"), true)
    try out.write(v.getBytes("UTF-8")) finally out.close()
  }
  private def content(dir: Path): Option[String] =
    if (local.exists(dir)) Some(SmallFile.read(local, new Path(dir, "v.txt"))) else None
  private def names(root: Path): Set[String] = local.listStatus(root).map(_.getPath.getName).toSet
  private def fresh(prefix: String) = new Path(Files.createTempDirectory(prefix).toString)

  test("swap: a crash after any step repairs to exactly the old dir or exactly the new, " +
       "interrupted only between the park and the swap, no hidden name left") {
    // the mutating steps of a swap over a live dir: writing -> staged,
    // the park slot cleared, live -> park, staged -> live, park
    // dropped; with no live dir: writing -> staged, staged -> live,
    // park dropped
    for (withOld <- Seq(true, false); steps = if (withOld) 5 else 3; allowed <- -1 to steps) {
      val root = fresh("graft_dirswap")
      val live = new Path(root, "thresholds")
      if (withOld) { local.mkdirs(live); fill(local, live, "old") }
      val old = if (withOld) Some("old") else None
      val fs = crashingAfter(math.max(allowed, 0))
      val crashed = scala.util.Try(DirSwap.swap(fs, live) { dir =>
        fill(fs, dir, "new")
        // -1: the write itself dies half way
        if (allowed < 0) throw new java.io.IOException("crash in write")
      }).isFailure
      val at = s"withOld=$withOld allowed=$allowed"
      assert(crashed == (allowed < steps), at)
      // one step commits the new dir: writing -> staged
      val committed = allowed >= 1
      // a reader between the crash and the repair: the old dir, the
      // new one, or none only while interrupted
      val between = DirSwap.interrupted(local, live)
      assert(between == (withOld && allowed == 3), at)
      val swapped = allowed >= steps - 1
      assert(content(live) == (if (swapped) Some("new") else if (between) None else old), at)
      DirSwap.repair(local, live)
      assert(content(live) == (if (committed) Some("new") else old), at)
      assert(!DirSwap.interrupted(local, live), at)
      assert(names(root) == (if (committed || withOld) Set("thresholds") else Set.empty[String]),
        s"$at: ${names(root)}")
    }
  }

  test("repair: the names the per-caller sequences left repair as they did") {
    val root = fresh("graft_dirswap_legacy")
    def dir(n: String, v: String): Path = { val p = new Path(root, n); local.mkdirs(p); fill(local, p, v); p }
    // a refit parked at <dir>.old.tmp with no live dir: interrupted,
    // then restored; its staging dir is dropped
    val thr = new Path(root, "thresholds")
    dir("thresholds.old.tmp", "old"); dir("thresholds.refit.tmp", "half")
    assert(DirSwap.interrupted(local, thr))
    DirSwap.repair(local, thr)
    assert(content(thr) == Some("old") && !DirSwap.interrupted(local, thr))
    // a takedown park with no live dir is restored, one beside its
    // live dir is dropped, and stages are dropped: repairAll finds
    // them by their names
    dir(".takedown-old-batch=2", "old2")
    dir("batch=3", "live3"); dir(".takedown-old-batch=3", "old3"); dir(".takedown-stage-batch=3", "half")
    assert(DirSwap.interrupted(local, new Path(root, "batch=2")))
    DirSwap.repairAll(local, root)
    assert(content(new Path(root, "batch=2")) == Some("old2"))
    assert(content(new Path(root, "batch=3")) == Some("live3"))
    // a journal record staged at .td-stage-<fp> goes live when it
    // holds parquet, and is dropped when it does not
    dir("td=a", "old-a"); val sa = dir(".td-stage-a", "new-a")
    local.create(new Path(sa, "part-0.parquet")).close()
    dir("td=b", "old-b"); dir(".td-stage-b", "empty-b")
    DirSwap.repair(local, new Path(root, "td=a"))
    DirSwap.repair(local, new Path(root, "td=b"))
    assert(content(new Path(root, "td=a")) == Some("old-a"), "an empty parquet file is no record")
    val sa2 = dir(".td-stage-a", "new-a")
    val out = local.create(new Path(sa2, "part-0.parquet"))
    try out.write(1) finally out.close()
    DirSwap.repair(local, new Path(root, "td=a"))
    assert(content(new Path(root, "td=a")) == Some("new-a"))
    assert(content(new Path(root, "td=b")) == Some("old-b"))
    assert(names(root) == Set("thresholds", "batch=2", "batch=3", "td=a", "td=b"), names(root).toString)
  }
}
