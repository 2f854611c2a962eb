package graft.sources

import graft.SparkSpec
import graft.pipeline.StateDir
import org.apache.hadoop.fs.Path
import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

class ReplaceFileSpec extends SparkSpec {

  /** Replace `target` `n` times through `replace` while another thread
    * polls it; returns (polls, polls that found no file). */
  private def pollWhileReplacing(target: java.nio.file.Path, n: Int)(replace: Int => Unit): (Long, Long) = {
    val done = new AtomicBoolean(false)
    val polls = new AtomicLong()
    val missing = new AtomicLong()
    val poller = new Thread(() =>
      while (!done.get) {
        polls.incrementAndGet()
        if (!Files.exists(target)) missing.incrementAndGet()
      })
    poller.start()
    try (1 to n).foreach(replace)
    finally { done.set(true); poller.join() }
    (polls.get, missing.get)
  }

  test("an atomic text publish never leaves the file missing while it is replaced") {
    val dir = Files.createTempDirectory("graft_replace")
    val target = dir.resolve("knobs.txt")
    StateDir.writeTextFileAtomic(spark, target.toString, "v0\n")
    val (polls, missing) = pollWhileReplacing(target, 150) { i =>
      StateDir.writeTextFileAtomic(spark, target.toString, s"v$i\n")
      assert(StateDir.readTextFile(spark, target.toString) == s"v$i\n")
    }
    assert(polls > 0, "the poller must have run")
    assert(missing == 0L, s"the file was missing in $missing of $polls polls")
    assert(Files.list(dir).filter(_.getFileName.toString.startsWith(".tmp-")).count() == 0L,
      "no temp file is left behind")
  }

  test("a replace over a checksummed file reads back the new bytes, not a stale checksum") {
    val dir = Files.createTempDirectory("graft_replace_crc")
    val target = new Path(dir.resolve("stats.txt").toString)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // first written through the checksummed file system: it has a .crc
    val out = fs.create(target, true)
    try out.write("n_docs=1\n".getBytes("UTF-8")) finally out.close()
    assert(Files.exists(dir.resolve(".stats.txt.crc")), "setup: the first write leaves a checksum")
    ReplaceFile(fs, target, "n_docs=22\n".getBytes("UTF-8"))
    val in = fs.open(target)
    try assert(new String(in.readAllBytes(), "UTF-8") == "n_docs=22\n") finally in.close()
  }
}
