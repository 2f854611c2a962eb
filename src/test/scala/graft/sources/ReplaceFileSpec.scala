package graft.sources

import graft.SparkSpec
import graft.pipeline.StateDir
import org.apache.hadoop.fs.{FileAlreadyExistsException, LocalFileSystem, Path}
import java.nio.file.Files
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.util.{Failure, Success, Try}

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
    SmallFile.replace(fs, target, "n_docs=22\n".getBytes("UTF-8"))
    val in = fs.open(target)
    try assert(new String(in.readAllBytes(), "UTF-8") == "n_docs=22\n") finally in.close()
  }

  test("create: of 8 threads racing for one name, exactly one publishes and a read returns its bytes") {
    val dir = Files.createTempDirectory("graft_create_race")
    val fs = new Path(dir.toString).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .asInstanceOf[LocalFileSystem]
    val writers = 8
    val pool = Executors.newFixedThreadPool(writers)
    try (1 to 200).foreach { round =>
      val target = new Path(dir.resolve(s"v$round.txt").toString)
      val start = new CyclicBarrier(writers)
      // contents of different lengths, so a read pairing one writer's
      // bytes with another's checksum cannot pass
      def bytes(w: Int) = s"round=$round writer=$w ${"x" * w}\n".getBytes("UTF-8")
      val outcomes = (0 until writers).map { w =>
        pool.submit[Try[Unit]] { () =>
          start.await(60, TimeUnit.SECONDS)
          Try(SmallFile.create(fs, target, bytes(w)))
        }
      }.map(_.get(60, TimeUnit.SECONDS))
      val winners = outcomes.zipWithIndex.collect { case (Success(_), w) => w }
      assert(winners.size == 1, s"round $round: winners ${winners.mkString(",")}")
      outcomes.collect { case Failure(e) => e }.foreach { e =>
        assert(e.isInstanceOf[FileAlreadyExistsException], s"round $round: a loser threw $e")
      }
      assert(fs.exists(fs.getChecksumFile(target)), s"round $round: the winner's file has no .crc")
      val in = fs.open(target)
      try assert(in.readAllBytes().sameElements(bytes(winners.head)), s"round $round: not the winner's bytes")
      finally in.close()
    } finally pool.shutdownNow()
    val temps = Files.list(dir).filter(_.getFileName.toString.contains(SmallFile.TmpPrefix)).count()
    assert(temps == 0L, s"$temps temp files (or their checksums) left behind")
  }
}
