package graft.pipeline

import graft.sources.{DirSwap, SmallFile}
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, LocalFileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8

/** The state-dir primitives every writer command shares — the
  * corpus pipeline and its refits, takedown, corpus-clean and
  * quality-score: the exclusive-writer lease, frozen-model sidecars
  * and `_knobs.txt`, the clean stage's scratch pre-flight, and the
  * quality-weights reader. One implementation each, so a state dir
  * written by one command reads identically in every other. */
private[graft] object StateDir {

  /** A held lease: the lease file and this holder's nonce. */
  type Lease = (Path, String)

  def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** A refit swap crashed with `path` parked and not back
    * ([[graft.sources.DirSwap.interrupted]]). */
  def swapInterrupted(spark: SparkSession, path: String): Boolean =
    DirSwap.interrupted(new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration), new Path(path))

  def readTextFile(spark: SparkSession, pathStr: String): String = {
    val p = new Path(pathStr)
    SmallFile.read(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Atomic small-text publish through [[graft.sources.SmallFile.replace]]
    * ([[writeLongSidecar]] delegates here; the knobs file, the resume
    * plan and the run records use it directly). */
  def writeTextFileAtomic(spark: SparkSession, pathStr: String, content: String): Unit = {
    val p = new Path(pathStr)
    SmallFile.replace(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p, content.getBytes(UTF_8))
  }

  /** Frozen-model long-valued sidecars (`<dir>/<name>.txt` — the
    * select threshold/frac, the scrub chunk width/mindocs). Publish
    * is an atomic replace (a reader finds the old value or the new,
    * never no file: see [[graft.sources.SmallFile]]), and the fit
    * paths write EVERY sidecar BEFORE committing the
    * data artifact whose _SUCCESS marks the model fitted: a crash
    * mid-fit leaves `fitted` false and the next seed run re-fits —
    * self-healing, never a stuck half-model. */
  def writeLongSidecar(spark: SparkSession, dir: String, name: String, value: Long): Unit =
    writeTextFileAtomic(spark, s"$dir/$name.txt", s"$value\n")

  def readLongSidecar(spark: SparkSession, dir: String, name: String): Long = {
    val p = s"$dir/$name.txt"
    // sidecars are written before the data artifact commits, so this
    // can only fire on manual tampering — name the actual remedy
    require(pathExists(spark, p), s"frozen model incomplete: $p missing — " +
      s"delete $dir and re-run the seed fit")
    readTextFile(spark, p).trim.toLong
  }

  /** [[readLongSidecar]] that tolerates absence — for sidecars ADDED
    * to the frozen-model set after states already existed in the wild
    * (the drift-baseline rates): an old state tree simply has no
    * baseline, so the drift check is skipped rather than refused. */
  def readLongSidecarIfExists(spark: SparkSession, dir: String, name: String): Option[Long] =
    if (pathExists(spark, s"$dir/$name.txt")) Some(readLongSidecar(spark, dir, name)) else None

  /** Frozen-model fit knobs stored INSIDE the data artifact's
    * directory (underscore-prefixed, so parquet discovery ignores it)
    * rather than as per-knob sidecars NEXT to it: a refit that
    * replaces the artifact by rename then commits thresholds AND
    * knobs in the ONE atomic metadata op — no window where new
    * thresholds are live under old knobs (the crash class the r11
    * review found in mix-refit). The file is also the fitted-model
    * completion marker: it is written LAST at seed (after the parquet
    * commits), so a crashed seed is simply not fitted and re-seeds. */
  val KnobsFile = "_knobs.txt"

  def writeKnobsFile(spark: SparkSession, artifactDir: String, kvs: Seq[(String, Long)]): Unit =
    writeTextFileAtomic(spark, s"$artifactDir/$KnobsFile",
      kvs.map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n"))

  def readKnobsFile(spark: SparkSession, artifactDir: String): Map[String, Long] = {
    val p = s"$artifactDir/$KnobsFile"
    require(pathExists(spark, p), s"frozen model incomplete: $p missing — " +
      s"delete $artifactDir and re-run the seed fit")
    readTextFile(spark, p).linesIterator.filter(_.contains("=")).map { l =>
      val Array(k, v) = l.split("=", 2); k -> v.trim.toLong
    }.toMap
  }

  /** Exclusive-writer lease on an incremental state dir. The frozen-
    * model publishes under state/ are crash-safe but not RACE-safe:
    * two cron-overlapping batches (or a batch racing a refit) can
    * interleave seed fits, refit swaps, and supply evidence — each
    * step individually atomic, the composition silently corrupt. The
    * lease is a file published through [[graft.sources.SmallFile.create]]
    * (whole, and only if no other writer holds the name);
    * the second writer REFUSES loudly, naming the holder, its age,
    * and both remedies. A crashed holder leaves the file behind:
    * after `ttlMs` (leasettl=, default 24 h; 0 = never auto-break) a
    * new writer breaks the stale lease and proceeds — and below the
    * TTL the refusal names the exact file for a manual override.
    * Readers are unaffected (snapshot isolation is the stores' job);
    * this guards WRITER-writer interleaving only. */
  val LeaseFile = ".lease.txt"
  val DefaultLeaseTtlMs: Long = 24L * 3600 * 1000

  /** Run `body` holding the lease on `dir`: acquire, start the
    * intra-stage heartbeat timer, and on every exit path — refusals
    * inside `body` included, since a refused run did no work and must
    * not wedge the next cron slot — stop the timer and release.
    * `refusalHint` is appended to an acquire refusal's message. */
  def withStateLease[T](spark: SparkSession, dir: String, command: String, ttlMs: Long,
                        refusalHint: String = "")(body: Lease => T): T = {
    val lease =
      try acquireStateLease(spark, dir, command, ttlMs)
      catch {
        case e: IllegalArgumentException if refusalHint.nonEmpty =>
          throw new IllegalArgumentException(e.getMessage + refusalHint)
      }
    val hb = startLeaseHeartbeat(spark, lease, ttlMs)
    try body(lease)
    finally {
      hb.close()
      releaseStateLease(spark, lease)
    }
  }

  /** The acquire returns (path, nonce); release deletes ONLY if the
    * file still carries this holder's nonce — an over-TTL holder whose
    * lease was legitimately broken by a newer writer must not, in its
    * finally block, delete THAT writer's lease and re-open the door. */
  def acquireStateLease(spark: SparkSession, state: String, command: String,
                        ttlMs: Long): Lease = {
    val p = new Path(s"$state/$LeaseFile")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nonce = java.util.UUID.randomUUID().toString
    val content = s"holder=$command pid=${ProcessHandle.current().pid()} " +
      s"acquired_ms=${System.currentTimeMillis()} nonce=$nonce\n"
    if (!createLease(fs, p, content)) {
      val (holder, ageMs) =
        try {
          val st = fs.getFileStatus(p)
          (readLeaseText(spark, p).getOrElse("<holder vanished>"),
            System.currentTimeMillis() - st.getModificationTime)
        } catch { case _: java.io.IOException => ("<holder vanished>", 0L) }
      if (ttlMs > 0 && ageMs > ttlMs) {
        // break-by-RENAME, not delete: rename(src, dst) fails when src
        // is already gone, so of two writers that both observed the
        // stale lease, exactly ONE wins the break — the loser's rename
        // fails and it refuses, instead of deleting the winner's
        // freshly created lease (the check-then-act hole a bare
        // delete leaves open)
        val tomb = new Path(s"$state/.lease.broken.$nonce")
        if (fs.rename(p, tomb)) {
          System.err.println(s"[graft] $command: state lease at $p was STALE " +
            s"(${ageMs / 1000} s old > leasettl ${ttlMs / 1000} s; $holder) — " +
            "broke it (the holder crashed without releasing)")
          fs.delete(tomb, false)
          require(createLease(fs, p, content),
            s"$command: lost the race re-acquiring the state lease at $p — " +
              "another writer took it; retry")
        } else
          throw new IllegalArgumentException(
            s"$command: the stale state lease at $p was broken by another " +
              "writer first — it now holds the dir; retry later")
      } else
        throw new IllegalArgumentException(
          s"$command: the dir $state is LEASED by another writer " +
            s"($holder, ${ageMs / 1000} s old) — two concurrent writers would " +
            "interleave frozen-model fits or stage outputs. Wait for it to " +
            s"finish, or if it crashed: delete $p (or pass leasettl=<ms> " +
            "below its age)")
    }
    (p, nonce)
  }

  /** Publish a lease file with `content` unless one exists. On the local
    * file system it goes through the raw file system, so a lease carries
    * no `.crc` that an in-place edit would leave stale. */
  private def createLease(fs: FileSystem, p: Path, content: String): Boolean =
    try {
      SmallFile.create(fs match { case local: LocalFileSystem => local.getRaw; case other => other },
        p, content.getBytes(UTF_8))
      true
    } catch { case _: FileAlreadyExistsException => false }

  /** One lease-file reader for the three consumers (acquire's holder
    * line, release's ownership check, pipeline-stats' report) — None
    * when the file is gone; other IO errors propagate to the caller's
    * policy. */
  def readLeaseText(spark: SparkSession, p: Path): Option[String] =
    try Some(readTextFile(spark, p.toString).trim)
    catch { case _: java.io.FileNotFoundException => None }

  def releaseStateLease(spark: SparkSession, lease: Lease): Unit = {
    val (p, nonce) = lease
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Ownership check IN PLACE first, rename-aside only when the
    // nonce matches: an unconditional rename-aside briefly removes a
    // SUCCESSOR's lease (rename → check → restore), and a third
    // writer acquiring in that window makes the restore fail —
    // successor and third writer would both believe they hold the
    // dir. Reading first confines the aside dance to leases we
    // believe are OURS; the post-rename re-verify + restore covers
    // only the now-tiny read→rename window (a successor breaking our
    // genuinely-stale lease in that instant), where the restore's
    // failure mode is benign: the third writer in that scenario broke
    // a lease that was ALREADY over-TTL, which the release warns
    // about either way.
    try {
      readLeaseText(spark, p) match {
        case None => () // already gone — nothing to release
        case Some(text) if !text.contains(s"nonce=$nonce") =>
          // a successor broke our stale lease and holds the dir:
          // theirs, untouched — never taken aside, no removal window
          System.err.println(s"[graft] state lease at $p is no longer ours " +
            "(a newer writer broke a stale lease) — left in place; this run " +
            "overstayed its leasettl and may have interleaved with that writer")
        case Some(_) =>
          val aside = new Path(s"${p}.release.$nonce")
          if (fs.rename(p, aside)) {
            val taken = readLeaseText(spark, aside)
            fs.delete(aside, false) // ours: released; theirs: restored below
            taken.filterNot(_.contains(s"nonce=$nonce")).foreach { theirs =>
              // the read→rename window: a successor replaced the file
              // between our check and the rename; give theirs back
              // (if a writer re-created it meanwhile, leave that one)
              createLease(fs, p, theirs + "\n")
              System.err.println(s"[graft] state lease at $p was no longer ours " +
                "(a newer writer broke a stale lease) — restored; this run " +
                "overstayed its leasettl and may have interleaved with that writer")
            }
          } // else: vanished between read and rename — nothing to release
      }
    } catch {
      case e: java.io.IOException =>
        // a transient release failure must be LOUD: the lease left
        // behind blocks every later batch until the TTL
        System.err.println(s"[graft] WARNING: releasing the state lease at $p " +
          s"failed (${e.getMessage}) — later batches will refuse until it is " +
          "removed or leasettl expires")
    }
  }

  /** Lease HEARTBEAT — refresh the lease file's mtime so the TTL
    * measures INACTIVITY, not total runtime: an active holder whose
    * batch outlives `leasettl=` must not have its lease broken.
    * Called at every stage boundary of the pipeline loop and by the
    * [[startLeaseHeartbeat]] timer. Ownership is checked first (the
    * release nonce discipline): if a successor already broke us we
    * must not touch THEIR file; warn loudly instead, because the
    * interleave hazard is now live. Best-effort: an IO failure warns
    * and the run continues. */
  def heartbeatStateLease(spark: SparkSession, lease: Lease): Unit = {
    val (p, nonce) = lease
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      readLeaseText(spark, p) match {
        case Some(text) if text.contains(s"nonce=$nonce") =>
          fs.setTimes(p, System.currentTimeMillis(), -1)
          // read-nonce-then-setTimes window: a successor breaking our
          // stale lease between the read and the touch gets ITS
          // file's mtime refreshed — benign, but re-verify and warn
          // so the interleave hazard is named
          if (!readLeaseText(spark, p).exists(_.contains(s"nonce=$nonce")))
            System.err.println(s"[graft] WARNING: state lease at $p changed " +
              "hands during the heartbeat touch — a newer writer broke it " +
              "mid-run (the touch refreshed THEIR lease's mtime); this run " +
              "may now be interleaving with that writer")
        case Some(_) =>
          System.err.println(s"[graft] WARNING: state lease at $p is no longer " +
            "ours (a newer writer broke it mid-run) — this run may now be " +
            "interleaving with that writer; finish or abort deliberately")
        case None =>
          System.err.println(s"[graft] WARNING: state lease at $p vanished " +
            "mid-run — another writer may enter the state dir; finish or " +
            "abort deliberately")
      }
    } catch {
      case e: java.io.IOException =>
        System.err.println(s"[graft] WARNING: heartbeating the state lease at " +
          s"$p failed (${e.getMessage}) — the lease ages toward leasettl")
    }
  }

  /** Intra-stage heartbeat TIMER: stage-boundary touches bound the
    * breakable gap by STAGE wall — but one sf1000 clean stage ran
    * 1315 s, so a `leasettl=` tighter than a stage could break an
    * ACTIVE holder. A daemon timer touches the lease every ttl/4
    * (clamped to [1 s, 60 s]) through [[heartbeatStateLease]], so a
    * holder is only breakable after a full TTL with the whole PROCESS
    * silent — the crashed case the break exists for. ttl <= 0 (never
    * auto-break) returns a no-op handle. Close the handle in the same
    * finally that releases the lease. */
  def startLeaseHeartbeat(spark: SparkSession, lease: Lease, ttlMs: Long): AutoCloseable =
    if (ttlMs <= 0) new AutoCloseable { def close(): Unit = () }
    else {
      val period = math.max(1000L, math.min(ttlMs / 4, 60000L))
      val exec = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
        (r: Runnable) => {
          val t = new Thread(r, "graft-lease-heartbeat")
          t.setDaemon(true)
          t
        })
      // swallow EVERYTHING inside the tick: scheduleAtFixedRate
      // silently cancels all future runs if a task throws, and a
      // dead timer is a silent regression to boundary-only touches —
      // the heartbeat already warns on its own failure modes
      exec.scheduleAtFixedRate(
        () => try heartbeatStateLease(spark, lease)
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[graft] WARNING: lease heartbeat tick " +
              s"failed (${e.getMessage}) — the timer stays alive")
        },
        period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
      new AutoCloseable { def close(): Unit = { exec.shutdownNow(); () } }
    }

  /** The clean stage's measured scratch constant: MinHash state
    * (numPerm=128 longs/signature, localCheckpoint'd for the band
    * exchange and the verify join) materializes ≈ 2× the batch's TEXT
    * bytes of shuffle scratch on the executors' local disks — the
    * PLANS r12 arithmetic that predicted both observed sf1000 ENOSPC
    * deaths (45M- and 27M-doc batches on a 52 GB filesystem). */
  val CleanScratchFactor = 2L
  /** Spec injection point for the free-space probe — production reads
    * the configured Spark local dirs' usable space. */
  var scratchFreeBytesOverride: Option[Long] = None
  private def scratchFreeBytes(spark: SparkSession): Long =
    scratchFreeBytesOverride.getOrElse {
      // where shuffle spill actually lands; summing distinct dirs
      // over-counts when they share a filesystem — acceptable for a
      // pre-flight bound (the refusal triggers on the CERTAIN-death
      // case; a shared-FS overcount only softens it toward the warn)
      val dirs = spark.conf.getOption("spark.local.dir")
        .getOrElse(System.getProperty("java.io.tmpdir", "/tmp"))
      dirs.split(",").map(_.trim).filter(_.nonEmpty).distinct
        .map { d =>
          // getUsableSpace returns 0 for a configured-but-not-yet-
          // created dir (Spark creates local dirs lazily), and 0 free
          // would make the refuse spuriously block every healthy
          // batch (r13 ADVICE) — walk up to the nearest EXISTING
          // ancestor: the filesystem the dir will land on is the
          // ancestor's, so its usable space is the true budget
          var f = new java.io.File(d).getAbsoluteFile
          while (f != null && !f.exists()) f = f.getParentFile
          if (f == null) 0L else f.getUsableSpace
        }.sum
    }

  /** Pre-flight disk check for the clean stage — refuse (or warn)
    * BEFORE the batch dies hours into its shuffle: predicted scratch
    * is [[CleanScratchFactor]] × the batch's text bytes (one columnar
    * length pass over a frame the callers have already cached or must
    * read anyway — trivial next to the MinHash passes it protects).
    * `mode`: `refuse` throws when predicted > free, `warn` prints,
    * `off` skips (including the length pass). The default is refuse
    * in LOCAL mode — where driver-local free space IS the scratch
    * budget and the r12 probe measured two certain-death batches —
    * and warn on a cluster, where scratch is distributed across
    * executor disks the driver cannot see (the check then bounds the
    * single-worst case, not the real budget).
    * Returns (predicted, free) bytes when the check ran — the numbers
    * the run journal records so an operator sizes the NEXT batch from
    * `runs-report`; None when skipped. */
  def cleanScratchPreflight(spark: SparkSession, docs: DataFrame,
                            mode: String, label: String): Option[(Long, Long)] = {
    require(Set("refuse", "warn", "off").contains(mode),
      s"scratchcheck=$mode — known modes: refuse, warn, off")
    if (mode == "off") None
    else {
      val textBytes = docs.agg(coalesce(sum(octet_length(col("text"))), lit(0L)))
        .head().getLong(0)
      val predicted = CleanScratchFactor * textBytes
      val free = scratchFreeBytes(spark)
      if (predicted > free) {
        val msg = s"$label: the clean stage needs ≈ $predicted bytes of shuffle " +
          s"scratch (${CleanScratchFactor}x the batch's $textBytes text bytes — " +
          "the measured MinHash state constant, PLANS r12) but the local dirs " +
          s"have $free free. The batch would die on ENOSPC mid-shuffle — split " +
          "it into smaller batches (the remedy), free disk, or pass " +
          "scratchcheck=warn/off if scratch is distributed across executors"
        if (mode == "refuse") throw new IllegalArgumentException(msg)
        else System.err.println(s"[graft] WARNING $msg")
      }
      Some((predicted, free))
    }
  }

  /** Weights ingestion with loud validation: a model file is OPERATOR
    * INPUT, and a malformed one must fail with the problem named, not
    * an ArrayIndexOutOfBounds/NPE three stages later — and a duplicate
    * bucket must never silently last-write-win (two rows for one
    * bucket means the file is not the table the trainer wrote).
    * Buckets ABSENT from the file default to weight 0 (no evidence ⇒
    * no score contribution — the NB-natural neutral); the in-repo
    * trainer always writes full coverage, so the zero-fill only fires
    * on hand-built partial tables, and the count is logged. */
  def readQualityWeights(spark: SparkSession, path: String): Array[Long] = {
    val b = graft.queries.PipelineQueries.DsirBuckets
    val w = new Array[Long](b)
    val seen = new java.util.BitSet(b)
    spark.read.parquet(path).select(col("bucket").cast("int"),
        col("weight_milli").cast("long"))
      .collect().foreach { r =>
        require(!r.isNullAt(0) && !r.isNullAt(1),
          s"weights $path: null bucket/weight_milli row")
        val k = r.getInt(0)
        require(k >= 0 && k < b,
          s"weights $path: bucket $k outside [0, $b)")
        require(!seen.get(k), s"weights $path: duplicate bucket $k")
        seen.set(k); w(k) = r.getLong(1)
      }
    if (seen.cardinality() < b)
      System.err.println(
        s"[graft] weights $path: ${b - seen.cardinality()} of $b buckets absent, defaulting to 0")
    w
  }
}
