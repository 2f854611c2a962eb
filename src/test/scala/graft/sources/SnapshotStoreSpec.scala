package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

class SnapshotStoreSpec extends SparkSpec {

  /** Job descriptions and SQL physical plans started while `body` runs.
    * Listener events arrive asynchronously but in order, so a marker
    * job run before and after `body` brackets exactly its events. */
  private def recorded[T](body: => T): (T, Seq[String], Seq[String]) = {
    val (out, jobs, plans, _) = recordedWithRdd(body)
    (out, jobs, plans)
  }

  /** [[recorded]], plus the number of jobs that ran outside any SQL
    * execution (bare RDD actions). */
  private def recordedWithRdd[T](body: => T): (T, Seq[String], Seq[String], Int) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[String]()
    val plans = new ConcurrentLinkedQueue[String]()
    val rddJobs = new java.util.concurrent.atomic.AtomicInteger()
    val markers = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val d = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        if (d == "spec-marker") markers.incrementAndGet()
        else {
          jobs.add(d)
          if (props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).isEmpty)
            rddJobs.incrementAndGet()
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => plans.add(x.physicalPlanDescription)
        case _ =>
      }
    }
    def drain(): Unit = {
      val seen = markers.get
      sc.setJobDescription("spec-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 60000
      while (markers.get == seen && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(markers.get > seen, "listener never saw the marker job")
    }
    sc.addSparkListener(listener)
    try {
      drain(); jobs.clear(); plans.clear(); rddJobs.set(0)
      val out = body
      drain()
      (out, jobs.asScala.toSeq, plans.asScala.toSeq, rddJobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** The reference read a manifest-resolved read must equal: Spark's
    * own listing + `mergeSchema` footer merge over the same files. */
  private def mergeSchemaRead(dir: String, files: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(files.map(f => s"$dir/$f"): _*)

  private def assertSameRead(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, s"$what: schema ${got.schema} != ${want.schema}")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(got) == rows(want), s"$what: rows differ")
  }

  test("upsert touching one user replaces exactly one bucket's files in the manifest") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_part").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 8)
    store.overwrite((1L to 100L).map(i => (i, s"v$i")).toDF("user_id", "v"))
    val (v1, before) = store.latestManifest().get
    assert(before.size > 1, "100 users over 8 buckets must span several partitions")

    store.upsert(Seq((5L, "updated")).toDF("user_id", "v"))
    val (v2, after) = store.latestManifest().get
    assert(v2 == v1 + 1)
    val changed = (before.keySet ++ after.keySet)
      .filter(b => before.get(b) != after.get(b))
    assert(changed.size == 1, s"one-user upsert must replace one bucket, got $changed")
    // untouched buckets reference the SAME immutable files — zero rewrite
    (before.keySet - changed.head).foreach(b => assert(before(b) == after(b)))

    val snap = store.read().get
    assert(snap.count() == 100)
    assert(snap.filter(col("user_id") === 5L).select("v").head().getString(0) == "updated")
    assert(snap.columns.toSeq == Seq("user_id", "v"))
  }

  test("time travel: every committed version stays readable until vacuum retires it") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_tt").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 4)
    store.overwrite(Seq((1L, "a"), (2L, "b")).toDF("user_id", "v"))
    store.upsert(Seq((2L, "b2"), (3L, "c")).toDF("user_id", "v"))
    store.upsert(Seq((1L, "a3")).toDF("user_id", "v"))
    val Seq(v1, v2, v3) = store.versions()
    def snap(v: Long) = store.readVersion(v).get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snap(v1) == Map(1L -> "a", 2L -> "b"))
    assert(snap(v2) == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
    assert(snap(v3) == Map(1L -> "a3", 2L -> "b2", 3L -> "c"))
    assert(snap(v3) == store.read().get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap)
    assert(store.readVersion(v3 + 17).isEmpty, "unknown versions read as None")
    // vacuum retires old versions; the live one survives
    store.vacuum(keepVersions = 1, minAgeMs = 0L)
    assert(store.readVersion(v1).isEmpty && store.versions() == Seq(v3))
    assert(snap(v3) == Map(1L -> "a3", 2L -> "b2", 3L -> "c"))
  }

  test("compact: one live file per bucket, rows unchanged, vacuum reclaims the rest") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_compact").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 4)
    // overwrite from a 6-way-partitioned frame: up to 6 part files per
    // bucket, the layout a parallel write / micro-batch stream leaves
    store.overwrite((1L to 200L).map(i => (i, s"v$i")).toDF("user_id", "v").repartition(6))
    // fresh-key inserts pile on more generations of touched buckets
    // (a copy-on-write upsert would rewrite each bucket as one file)
    store.upsert((201L to 250L).map(i => (i, s"u$i")).toDF("user_id", "v").repartition(6))
    store.upsert((251L to 290L).map(i => (i, s"u$i")).toDF("user_id", "v").repartition(6))
    val before = store.read().get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(store.liveFileCount > 4, s"setup should be over-split, got ${store.liveFileCount}")

    val compacted = store.compact(maxFilesPerBucket = 1)
    assert(compacted > 0)
    assert(store.liveFileCount == 4, s"each bucket must compact to one file, got ${store.liveFileCount}")
    val after = store.read().get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after == before, "compaction is layout-only; rows must be untouched")
    // compacting an already-compact store is a no-op (no new version)
    val (vAfter, _) = store.latestManifest().get
    assert(store.compact(maxFilesPerBucket = 1) == 0)
    assert(store.latestManifest().get._1 == vAfter)

    // superseded generations + old manifests are vacuum food
    val reclaimed = store.vacuum(keepVersions = 1, minAgeMs = 0L)
    assert(reclaimed > 0, "pre-compaction files must be reclaimable")
    assert(store.read().get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap == before,
      "vacuum must never touch the live version")
  }

  test("incremental compaction: maxBuckets bounds each call, repeats converge") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_compact_inc").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 4)
    store.overwrite((1L to 200L).map(i => (i, s"v$i")).toDF("user_id", "v").repartition(6))
    // a fresh-key insert appends a generation to every bucket
    store.upsert((201L to 400L).map(i => (i, s"u$i")).toDF("user_id", "v").repartition(6))
    val before = store.read().get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(store.liveFileCount > 4, "setup must be over-split")

    // each bounded call rewrites at most maxBuckets buckets (one
    // bounded job per call — how a huge store compacts incrementally)
    val first = store.compact(maxFilesPerBucket = 1, maxBuckets = 2)
    assert(first == 2, s"first call must compact exactly 2 buckets, got $first")
    assert(store.read().get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap == before)
    var total = first
    var n = store.compact(maxFilesPerBucket = 1, maxBuckets = 2)
    while (n > 0) { total += n; n = store.compact(maxFilesPerBucket = 1, maxBuckets = 2) }
    assert(total == 4 && store.liveFileCount == 4,
      s"repeated bounded calls must converge to the floor, got $total buckets / ${store.liveFileCount} files")
    assert(store.read().get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap == before)
  }

  test("compact preserves a schema-evolved column across mixed-generation buckets") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_compact_evo").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 4)
    store.overwrite((21L to 80L).map(i => (i, s"v$i")).toDF("user_id", "v").repartition(4))
    // later code version starts writing batch_id: fresh keys append
    // post-evolution files next to the pre-evolution ones, so buckets
    // now mix pre- and post-evolution file generations (old rows read
    // the column as null)
    store.upsert((1L to 20L).map(i => (i, s"u$i", 7L)).toDF("user_id", "v", "batch_id"))
    val before = store.read().get.collect()
      .map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    assert(before(1L).contains(7L) && before(80L).isEmpty, "setup: mixed schema generations")

    assert(store.compact(maxFilesPerBucket = 1) > 0)
    val after = store.read().get.collect()
      .map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    assert(after == before,
      "compaction must carry the evolved column through mixed-generation buckets")
  }

  test("a concurrently published manifest version makes the commit throw, not lose a write") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_conflict").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 4)
    store.overwrite(Seq((1L, "a"), (2L, "b")).toDF("user_id", "v"))
    val (v1, _) = store.latestManifest().get
    // simulate the race: a concurrent writer publishes v1+1 after this
    // writer decided on the same target version. On POSIX a bare
    // rename would silently REPLACE it (lost update); commit must
    // refuse instead.
    val conflicting = new org.apache.hadoop.fs.Path(dir, f"manifest-${v1 + 1}%012d.txt")
    val fs = conflicting.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(conflicting, true)
    out.write("#buckets=4\n".getBytes("UTF-8")); out.close()
    val e = intercept[SnapshotStore.CommitConflict] {
      store.commit(v1 + 1, 4, Map.empty)
    }
    assert(e.getMessage.contains("concurrent writer"))
    // the concurrent writer's manifest survives untouched
    val in = fs.open(conflicting)
    assert(new String(in.readAllBytes(), "UTF-8").startsWith("#buckets=4")); in.close()
    // and the losing commit leaves no temp manifest behind
    assert(!fs.listStatus(new Path(dir)).exists(_.getPath.getName.startsWith(".tmp-manifest-")))
  }

  test("vacuum removes a failed commit's temp manifest once it is older than the grace") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_tmp").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 2)
    store.overwrite(Seq((1L, "a"), (2L, "b")).toDF("user_id", "v"))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def orphan(name: String): Path = {
      val p = new Path(dir, s".tmp-manifest-$name")
      val out = fs.create(p, true)
      try out.write("#buckets=2\n".getBytes("UTF-8")) finally out.close()
      p
    }
    val young = orphan("young")
    val aged = orphan("aged")
    fs.setTimes(aged, System.currentTimeMillis() - 2L * 3600L * 1000L, -1L)
    store.vacuum()
    assert(fs.exists(young), "a young temp may be an in-flight commit")
    assert(!fs.exists(aged), "a temp older than the grace is a lost commit")
    assert(store.read().get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a", 2L -> "b"))
  }

  test("snapshot isolation: a reader opened before an upsert keeps its version") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_iso").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 4)
    store.overwrite(Seq((1L, "old"), (2L, "x")).toDF("user_id", "v"))
    val reader = store.read().get // lazy plan pinned to version-1 files
    store.upsert(Seq((1L, "new")).toDF("user_id", "v"))
    // old files were not deleted or renamed, so the pinned plan still works
    assert(reader.filter(col("user_id") === 1L).select("v").head().getString(0) == "old")
    assert(store.read().get.filter(col("user_id") === 1L)
      .select("v").head().getString(0) == "new")
  }

  test("vacuum removes files of dropped versions and keeps the live ones") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_vac").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 2)
    store.overwrite(Seq((1L, "a"), (2L, "b")).toDF("user_id", "v"))
    store.upsert(Seq((1L, "a2")).toDF("user_id", "v"))
    // grace period respected: fresh files survive a default vacuum
    assert(store.vacuum(keepVersions = 1) == 0L,
      "files younger than the retention grace must never be reclaimed")
    val deleted = store.vacuum(keepVersions = 1, minAgeMs = 0L)
    assert(deleted >= 1, "version-1 file for user 1's bucket must be reclaimed")
    val got = store.read().get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a2", 2L -> "b"))
    assert(store.vacuum(minAgeMs = 0L) == 0L, "second vacuum finds nothing")

    // a generation with no live file left loses its .blooms and .files
    // sidecars, under the same age gate as its data files
    val fsys = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sidecars(gen: String) = Seq(".blooms", ".files")
      .filter(n => fsys.exists(new Path(s"$dir/$gen/$n")))
    val retired = store.liveFiles.map(_.takeWhile(_ != '/')).toSet
    store.upsert(Seq((1L, "a3"), (2L, "b3")).toDF("user_id", "v")) // rewrites every live bucket
    assert(retired.forall(g => sidecars(g) == Seq(".blooms", ".files")))
    store.vacuum(keepVersions = 1)
    assert(retired.forall(g => sidecars(g) == Seq(".blooms", ".files")),
      "sidecars younger than the retention grace must never be reclaimed")
    store.vacuum(keepVersions = 1, minAgeMs = 0L)
    assert(retired.forall(g => sidecars(g).isEmpty), "a dead generation's sidecars must go")
    assert(store.liveFiles.map(_.takeWhile(_ != '/')).forall(g => sidecars(g) == Seq(".blooms", ".files")),
      "live generations keep their sidecars")
    assert(store.read().get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a3", 2L -> "b3"))
  }

  test("a store reopened with a different bucket count upserts without duplicating keys") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_bc").toString + "/snap"
    new SnapshotStore(spark, dir, buckets = 32)
      .overwrite((1L to 50L).map(i => (i, s"v$i")).toDF("user_id", "v"))
    // different constructor bucket count must hash with the RECORDED one
    val reopened = new SnapshotStore(spark, dir, buckets = 8)
    reopened.upsert(Seq((7L, "updated")).toDF("user_id", "v"))
    val rows = reopened.read().get.filter(col("user_id") === 7L).collect()
    assert(rows.length == 1 && rows.head.getString(1) == "updated",
      s"key 7 must appear exactly once, got ${rows.toSeq}")
    assert(reopened.read().get.count() == 50)
  }

  /** `body` with `spark.sql.files.maxPartitionBytes` set to `bytes`,
    * the session's value restored after. */
  private def withConf[T](k: String, v: String)(body: => T): T = {
    val was = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally was.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  private def withSplitBytes[T](bytes: Long)(body: => T): T =
    withConf("spark.sql.files.maxPartitionBytes", bytes.toString)(body)

  test("byte-sized buckets: an unpinned store's first write of a small frame records one bucket; an explicit count is honoured") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_snap_sized").toString
    val rows = (1L to 200L).map(i => (i, s"v$i")).toDF("user_id", "v")
    val sized = new SnapshotStore(spark, s"$base/sized")
    sized.upsert(rows)
    assert(sized.bucketCount.contains(1))
    assert(sized.liveFiles.size == 1, s"${sized.liveFiles}")
    val pinned = new SnapshotStore(spark, s"$base/pinned", buckets = 8)
    pinned.upsert(rows)
    assert(pinned.bucketCount.contains(8))
    // an explicit overwrite re-lays the store out by its own bytes
    val relaid = new SnapshotStore(spark, s"$base/pinned")
    relaid.overwrite(rows)
    assert(relaid.bucketCount.contains(1))
    assert(relaid.read().get.count() == 200)
  }

  test("byte-sized buckets: an unpinned store over a recorded 32 keeps hashing with 32") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_kept").toString + "/snap"
    new SnapshotStore(spark, dir, buckets = 32)
      .overwrite((1L to 100L).map(i => (i, s"v$i")).toDF("user_id", "v"))
    val reopened = new SnapshotStore(spark, dir)
    // a small delta (one bucket's worth of bytes) must not re-bucket
    reopened.upsert(Seq((7L, "a"), (8L, "b"), (1000L, "new")).toDF("user_id", "v"))
    assert(reopened.bucketCount.contains(32))
    val all = reopened.read().get
    assert(all.count() == 101 && all.select("user_id").distinct().count() == 101,
      "no key duplicated across buckets")
    val probe = Seq(7L, 8L, 1000L, 50L).toDF("user_id")
    assert(reopened.readForKeys(probe).get.join(probe, Seq("user_id"), "left_semi")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(7L -> "a", 8L -> "b", 1000L -> "new", 50L -> "v50"))
    assert(reopened.keysFor(probe).join(probe, Seq("user_id"), "left_semi").count() == 4)
    // the probed files are the keys' buckets only, hashed mod 32
    val wanted = probe.select(pmod(hash(col("user_id")), lit(32))).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(reopened.filesForKeys(probe).map(f =>
      f.split('/').find(_.startsWith("snap_bucket=")).get.stripPrefix("snap_bucket=").toInt)
      .toSet == wanted)
  }

  test("byte-sized buckets: a manifest without #buckets= reads and upserts with 32") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_nohdr").toString + "/snap"
    new SnapshotStore(spark, dir, buckets = 32)
      .overwrite((1L to 100L).map(i => (i, s"v$i")).toDF("user_id", "v"))
    // strip the header, as a store written before it existed
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = new Path(dir, "manifest-000000000001.txt")
    val in = fs.open(m)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    fs.delete(m, false)
    val out = fs.create(m)
    try out.write(text.linesIterator.filterNot(_.startsWith("#buckets=")).mkString("\n")
      .getBytes("UTF-8")) finally out.close()
    val legacy = new SnapshotStore(spark, dir)
    assert(legacy.bucketCount.isEmpty)
    assert(legacy.read().get.count() == 100)
    legacy.upsert(Seq((7L, "updated")).toDF("user_id", "v"))
    assert(legacy.bucketCount.contains(SnapshotStore.LegacyBuckets))
    val sevens = legacy.read().get.filter(col("user_id") === 7L).collect()
    assert(sevens.map(_.getString(1)).toSeq == Seq("updated"), s"key 7 once: ${sevens.toSeq}")
    assert(legacy.read().get.count() == 100)
  }

  test("byte-sized buckets: a frame Spark cannot size gets the legacy 32") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_rdd").toString + "/snap"
    val frame = (1L to 50L).map(i => (i, s"v$i")).toDF("user_id", "v")
    val unsized = spark.createDataFrame(frame.rdd, frame.schema)
    assert(unsized.queryExecution.optimizedPlan.stats.sizeInBytes >=
      BigInt(spark.sessionState.conf.defaultSizeInBytes), "precondition: no estimate")
    val store = new SnapshotStore(spark, dir)
    store.upsert(unsized)
    assert(store.bucketCount.contains(SnapshotStore.LegacyBuckets))
    assert(store.read().get.count() == 50)
  }

  test("byte-sized buckets: a frame estimated at N x the split size gets N buckets, capped at 4096") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_snap_nx").toString
    val frame = (1L to 60L).map(i => (i, s"value-$i")).toDF("user_id", "v")
    val estimate = frame.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    val three = new SnapshotStore(spark, s"$base/three")
    // target just over a third of the estimate: ceil(estimate / target) = 3
    withSplitBytes(estimate / 3 + 1)(three.upsert(frame))
    assert(three.bucketCount.contains(3), s"estimate $estimate")
    assert(three.read().get.count() == 60)
    // a large estimate over few rows: the count caps, the files follow rows
    val wide = spark.range(0, 1000000).filter(col("id") < 10).withColumnRenamed("id", "user_id")
    assert(wide.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(4096L * 64),
      "precondition: estimate past the cap")
    val capped = new SnapshotStore(spark, s"$base/capped")
    withSplitBytes(64)(capped.upsert(wide))
    assert(capped.bucketCount.contains(4096))
    assert(capped.read().get.count() == 10 && capped.liveFileCount <= 10)
  }

  test("a one-bucket store answers keyed reads without a bucket job, as a multi-bucket store does") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_snap_one").toString
    val rows = (1L to 80L).map(i => (i, s"v$i", i % 3)).toDF("user_id", "v", "p")
    val one = new SnapshotStore(spark, s"$base/one", buckets = 1, partitionCol = Some("p"))
    val four = new SnapshotStore(spark, s"$base/four", buckets = 4, partitionCol = Some("p"))
    Seq(one, four).foreach(_.overwrite(rows))
    def matched(df: Option[DataFrame], probe: DataFrame): Seq[String] =
      df.map(_.join(probe, Seq("user_id"), "left_semi").select("user_id", "v")
        .collect().map(_.toString).sorted.toSeq).getOrElse(Nil)
    def answers(st: SnapshotStore, probe: DataFrame) = (
      st.keysFor(probe).join(probe, Seq("user_id"), "left_semi").collect().map(_.getLong(0)).sorted.toSeq,
      probe.join(st.keysFor(probe), Seq("user_id"), "left_anti").collect().map(_.getLong(0)).sorted.toSeq,
      matched(st.readForKeys(probe), probe),
      matched(st.readForKeysAndPartitions(probe, Seq(1L, 2L)), probe),
      st.validateWrite(probe))
    val probes = Seq(
      "empty" -> Seq.empty[Long].toDF("user_id"),
      "non-empty" -> Seq(3L, 4L, 40L, 500L).toDF("user_id"))
    probes.foreach { case (what, probe) =>
      assert(answers(one, probe) == answers(four, probe), s"$what probe")
    }
    assert(answers(one, probes(1)._2)._5 == 1L, "key 500 is missing")
    val (files, jobs, _) = recorded(one.filesForKeys(probes(1)._2))
    assert(files.toSet == one.liveFiles.toSet && jobs.isEmpty, s"jobs: $jobs")
    val (_, jobs4, _) = recorded(four.filesForKeys(probes(1)._2))
    assert(jobs4.nonEmpty, "a multi-bucket store still runs its bucket job")
  }

  test("partitioned layout: readPartitions opens only the requested values' files") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_pcol").toString + "/snap"
    val store = new SnapshotStore(spark, dir, key = "id", buckets = 4,
      partitionCol = Some("cell"))
    store.overwrite((1L to 100L).map(i => (i, (i % 8).toInt, s"v$i")).toDF("id", "cell", "v"))

    val files2 = store.filesForPartitions(Seq(2))
    assert(files2.nonEmpty && files2.size < store.liveFileCount,
      s"a one-value probe must open a strict subset: ${files2.size} of ${store.liveFileCount}")
    assert(files2.forall(_.contains("snap_part=2/")),
      s"pruned list must only hold the requested value's files, got $files2")
    // the partition column survives as DATA (layout uses a copy), and
    // the pruned read returns exactly the requested value's rows
    val got = store.readPartitions(Seq(2, 5)).get
    assert(got.columns.contains("cell"))
    assert(got.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 100L).filter(i => i % 8 == 2 || i % 8 == 5))

    // upsert through a handle OPENED WITHOUT the partition column: the
    // RECORDED layout wins — pruning must keep working afterwards
    val reopened = new SnapshotStore(spark, dir, key = "id", buckets = 4)
    reopened.upsert(Seq((10L, 2, "updated")).toDF("id", "cell", "v"))
    val after = reopened.readPartitions(Seq(2)).get
    assert(after.filter(col("id") === 10L).select("v").head().getString(0) == "updated")
    assert(reopened.filesForPartitions(Seq(2)).forall(_.contains("snap_part=2/")),
      "post-upsert files must still carry the partition layout")
    assert(reopened.read().get.count() == 100)
  }

  test("readForKeys/keysFor/validateWrite open only the probed keys' buckets") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_keyed").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 8)
    store.overwrite((1L to 200L).map(i => (i, s"v$i")).toDF("user_id", "v"))

    val probe = Seq(5L, 6L).toDF("user_id")
    val opened = store.filesForKeys(probe)
    assert(opened.nonEmpty && opened.size < store.liveFileCount,
      s"a 2-key probe must open a strict subset of buckets: ${opened.size} of ${store.liveFileCount}")
    val got = store.readForKeys(probe).get
    assert(got.filter(col("user_id").isin(5L, 6L)).count() == 2)

    // the anti-join contract: "which probe keys are new" is identical
    // against the pruned keysFor() and the full keys()
    val mixed = Seq(5L, 6L, 901L, 902L).toDF("user_id")
    def newOnes(right: org.apache.spark.sql.DataFrame) =
      mixed.join(right, Seq("user_id"), "left_anti")
        .collect().map(_.getLong(0)).toSet
    assert(newOnes(store.keysFor(mixed)) == Set(901L, 902L))
    assert(newOnes(store.keysFor(mixed)) == newOnes(store.keys()))

    assert(store.validateWrite(Seq((5L, "v5")).toDF("user_id", "v")) == 0L)
    assert(store.validateWrite(Seq((999L, "x")).toDF("user_id", "v")) == 1L)
  }

  test("insert-only upsert appends new files; no existing file is rewritten") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_insfast").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 4)
    store.overwrite((1L to 40L).map(i => (i, s"v$i")).toDF("user_id", "v"))
    val (_, before) = store.latestManifest().get

    // fresh keys only: every pre-existing file must survive verbatim
    // (copy-on-write is per COLLIDING bucket, and there are none)
    store.upsert(Seq((101L, "new1"), (102L, "new2")).toDF("user_id", "v"))
    val (_, after) = store.latestManifest().get
    before.foreach { case (b, files) =>
      assert(files.forall(after.getOrElse(b, Nil).contains),
        s"insert-only upsert must not rewrite bucket $b's files")
    }
    assert(store.read().get.count() == 42)

    // mixed batch: one colliding key, one fresh key — only the
    // colliding key's bucket may lose files
    store.upsert(Seq((1L, "updated"), (103L, "new3")).toDF("user_id", "v"))
    val (_, after2) = store.latestManifest().get
    val rewritten = after.keySet.filter(b =>
      !after(b).forall(after2.getOrElse(b, Nil).contains))
    assert(rewritten.size <= 1,
      s"only the colliding bucket may be rewritten, got $rewritten")
    val got = store.read().get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "updated" && got(103L) == "new3" && got.size == 43)
  }

  test("bloom sidecar clears fresh-key probes without scanning; falls open when absent") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_bloom").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 4)
    store.overwrite((1L to 200L).map(i => (i, s"v$i")).toDF("user_id", "v"))

    // fresh keys: every touched bucket must be bloom-cleared — zero
    // buckets key-scanned on the ingest path
    store.upsert(Seq((901L, "n1"), (902L, "n2"), (903L, "n3")).toDF("user_id", "v"))
    assert(store.lastProbeStats._1 == 0 && store.lastProbeStats._2 > 0,
      s"fresh keys must skip the key scan entirely, got ${store.lastProbeStats}")

    // a colliding key's bucket must NOT be cleared (no false negatives
    // by construction: blooms overapproximate)
    store.upsert(Seq((7L, "updated")).toDF("user_id", "v"))
    assert(store.lastProbeStats._1 >= 1,
      s"a stored key must force its bucket through the key scan, got ${store.lastProbeStats}")
    val got = store.read().get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(7L) == "updated" && got(901L) == "n1" && got.size == 203)

    // pre-bloom generations (sidecar missing) fail OPEN into the scan
    val fsys = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (st <- fsys.listStatus(new org.apache.hadoop.fs.Path(dir))
         if st.isDirectory && st.getPath.getName.startsWith("data-")) {
      val b = new org.apache.hadoop.fs.Path(st.getPath, ".blooms")
      if (fsys.exists(b)) fsys.delete(b, false)
    }
    store.upsert(Seq((905L, "n5")).toDF("user_id", "v"))
    assert(store.lastProbeStats._1 > 0 && store.lastProbeStats._2 == 0,
      s"missing sidecars must fall back to the key scan, got ${store.lastProbeStats}")
    assert(store.read().get.count() == 204)
  }

  test("salted bloom build (buckets < cores) still clears fresh keys and blocks stored ones") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_bloom1").toString + "/snap"
    // ONE bucket + a partition column — the corpus-sized floor-1
    // layout: the bloom exchange salts across cores, and every salted
    // task's partial for the bucket merges into one correct filter
    val store = new SnapshotStore(spark, dir, buckets = 1, partitionCol = Some("p"))
    store.overwrite((1L to 500L).map(i => (i, (i % 7).toInt, s"v$i"))
      .toDF("user_id", "p", "v"))
    // fresh keys clear: the merged filter holds ALL stored keys, so a
    // disjoint delta skips the key scan
    store.upsert(Seq((9001L, 1, "n1"), (9002L, 2, "n2")).toDF("user_id", "p", "v"))
    assert(store.lastProbeStats._1 == 0 && store.lastProbeStats._2 > 0,
      s"fresh keys must bloom-clear the single bucket, got ${store.lastProbeStats}")
    // every stored key is found (no false negatives from the salted
    // merge): a replace of an old key forces the scan and lands
    store.upsert(Seq((42L, 0, "updated")).toDF("user_id", "p", "v"))
    assert(store.lastProbeStats._1 == 1,
      s"a stored key must force the key scan, got ${store.lastProbeStats}")
    val got = store.read().get.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got(42L) == "updated" && got(9001L) == "n1" && got.size == 502)
  }

  test("two interleaved upserts both land: the loser re-merges and retries") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_retry").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 4)
    store.overwrite(Seq((1L, "a"), (2L, "b")).toDF("user_id", "v"))
    val other = new SnapshotStore(spark, dir, buckets = 4)
    // deterministic race: a competing writer publishes in the window
    // between this writer's merge and its manifest commit, exactly once
    var fired = false
    store.onBeforeCommit = () =>
      if (!fired) { fired = true; other.upsert(Seq((2L, "concurrent")).toDF("user_id", "v")) }
    try store.upsert(Seq((1L, "mine")).toDF("user_id", "v"))
    finally store.onBeforeCommit = () => ()
    assert(fired, "the race hook must have fired")
    val got = store.read().get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "mine", 2L -> "concurrent"),
      s"both writers' rows must land (loser re-merged against the winner), got $got")
    // three committed versions: base, winner, retried loser
    assert(store.versions().size == 3, s"expected 3 versions, got ${store.versions()}")
  }

  test("delete removes keys O(touched buckets); absent keys are a version-free no-op") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_del").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 8)
    store.overwrite((1L to 100L).map(i => (i, s"v$i")).toDF("user_id", "v"))
    val (v1, before) = store.latestManifest().get

    val removed = store.delete(Seq(5L, 6L).toDF("user_id"))
    assert(removed == 2L)
    val (v2, after) = store.latestManifest().get
    assert(v2 == v1 + 1)
    // only the doomed keys' buckets were rewritten; the rest reference
    // the same immutable files
    val changed = (before.keySet ++ after.keySet).filter(b => before.get(b) != after.get(b))
    assert(changed.size <= 2, s"2-key delete must touch <= 2 buckets, got $changed")
    val got = store.read().get.select("user_id").collect().map(_.getLong(0)).toSet
    assert(got == (1L to 100L).toSet -- Set(5L, 6L))

    // deleting absent keys: no rewrite, NO new manifest version —
    // replayed takedowns don't churn the version history
    assert(store.delete(Seq(5L, 999L).toDF("user_id")) == 0L)
    assert(store.versions().last == v2, "absent-key delete must not commit")

    // multi-row-per-key store semantics: every row of the key goes
    store.upsert(Seq((200L, "x")).toDF("user_id", "v"))
    assert(store.read().get.filter(col("user_id") === 200L).count() == 1)
    assert(store.delete(Seq(200L).toDF("user_id")) == 1L)
  }

  test("delete: snapshot isolation for pinned readers; vacuum makes the bytes unrecoverable") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_del_iso").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 4)
    store.overwrite((1L to 20L).map(i => (i, s"v$i")).toDF("user_id", "v"))
    val pinned = store.read().get // plan pins the pre-delete file list
    assert(store.delete(Seq(7L).toDF("user_id")) == 1L)
    assert(pinned.filter(col("user_id") === 7L).count() == 1,
      "a reader opened before the delete keeps its version")
    assert(store.read().get.filter(col("user_id") === 7L).count() == 0,
      "a reader opened after the delete must not see the key")
    // vacuum reclaims the superseded generation — the takedown's bytes
    assert(store.vacuum(keepVersions = 1, minAgeMs = 0L) > 0)
    assert(store.read().get.count() == 19)
  }

  test("delete drops an all-deleted bucket from the manifest entirely") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_del_all").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 4)
    store.overwrite((1L to 40L).map(i => (i, s"v$i")).toDF("user_id", "v"))
    // delete EVERY key of one bucket: derive membership the same way
    // the store lays it out — each key's file path carries its
    // snap_bucket=B segment (filesForKeys probes exactly that bucket)
    def bucketOf(k: Long): Int = store.filesForKeys(Seq(k).toDF("user_id"))
      .head.split('/').find(_.startsWith("snap_bucket="))
      .get.stripPrefix("snap_bucket=").toInt
    val byBucket = (1L to 40L).groupBy(bucketOf)
    val (doomedBucket, doomed) = byBucket.head
    assert(store.delete(doomed.toDF("user_id")) == doomed.size.toLong)
    val (_, mapping) = store.latestManifest().get
    assert(!mapping.contains(doomedBucket),
      s"an all-deleted bucket must leave the manifest, got ${mapping.keySet}")
    assert(store.read().get.count() == 40L - doomed.size)
  }

  test("compact racing an upsert: both land in some serial order, rows identical") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_race2").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 2)
    // replaced rows in old generations, then a fresh-key insert
    // over-splits the buckets so compact has real work
    store.overwrite((1L to 10L).map(i => (i, "base")).toDF("user_id", "v"))
    store.upsert((1L to 10L).map(i => (i, "gen2")).toDF("user_id", "v"))
    store.upsert((1L to 10L).map(i => (i, "gen3")).toDF("user_id", "v"))
    store.upsert((11L to 20L).map(i => (i, "gen3")).toDF("user_id", "v").repartition(6))
    assert(store.liveFileCount > 2, s"setup must be over-split, got ${store.liveFileCount}")
    val other = new SnapshotStore(spark, dir, buckets = 2)
    var fired = false
    // the hook fires inside compact's commit window (and again inside
    // the injected upsert's own commit — guard makes it one-shot)
    store.onBeforeCommit = () =>
      if (!fired) { fired = true; other.upsert(Seq((21L, "racer")).toDF("user_id", "v")) }
    val compacted = try store.compact() finally store.onBeforeCommit = () => ()
    assert(fired, "the race hook must have fired")
    assert(compacted > 0, "compact must have retried and still compacted")
    val got = store.read().get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = (1L to 20L).map(_ -> "gen3").toMap + (21L -> "racer")
    assert(got == expect,
      "the racer's row must survive compaction (no resurrection of replaced rows)")
  }

  test("upsert inserts unseen keys and validateWrite sees them") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_ins").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 4)
    store.upsert(Seq((1L, "a"), (2L, "b")).toDF("user_id", "v"))
    store.upsert(Seq((2L, "B"), (9L, "c")).toDF("user_id", "v"))
    val got = store.read().get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "B", 9L -> "c"))
    assert(store.validateWrite(Seq((9L, "c")).toDF("user_id", "v")) == 0L)
  }

  test("manifest-resolved reads equal the mergeSchema read: evolved, partitioned, pre-sidecar stores") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft_snap_parity").toString
    // schema-evolved, mixed-generation store: pre-evolution files, an
    // appended generation that adds batch_id, one that adds note in a
    // different column order, and a copy-on-write merge of one bucket.
    // Generation dirs sort by random UUID, so the merged column order
    // differs from run to run — both reads must agree anyway.
    val dir = s"$root/evolved"
    val store = new SnapshotStore(spark, dir, buckets = 8)
    store.overwrite((1L to 60L).map(i => (i, s"v$i")).toDF("user_id", "v").repartition(3))
    val firstGen = store.liveFiles.head.takeWhile(_ != '/')
    store.upsert((61L to 80L).map(i => (i, s"v$i", 7L)).toDF("user_id", "v", "batch_id"))
    store.upsert((81L to 90L).map(i => (s"n$i", i, s"v$i")).toDF("note", "user_id", "v"))
    // the copy-on-write merge takes every base key of one bucket — a
    // delta the fold rule rewrites — that holds neither key 2 (upserted
    // again below, on the pre-sidecar path) nor key 40
    val bucketOf = store.read().get.select(col("user_id"), col("_metadata.file_path")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split('/').find(_.startsWith("snap_bucket=")).get).toMap
    val target = (1L to 60L).map(bucketOf).find(b => b != bucketOf(2L) && b != bucketOf(40L)).get
    val merging = (1L to 60L).filter(bucketOf(_) == target)
    store.upsert(merging.map(i => (s"n$i", i, s"u$i")).toDF("note", "user_id", "v"))
    val live = store.liveFiles
    assert(live.map(_.takeWhile(_ != '/')).distinct.size == 4 &&
      live.exists(_.startsWith(firstGen + "/")), "setup: four live generations")
    assertSameRead(store.read().get, mergeSchemaRead(dir, live), "evolved store")
    val probe = Seq(3L, 65L).toDF("user_id")
    assertSameRead(store.readForKeys(probe).get,
      mergeSchemaRead(dir, store.filesForKeys(probe)), "evolved store, pruned by key")

    // partitioned store: readPartitions over the clustered layout plus
    // unclustered insert files
    val pdir = s"$root/partitioned"
    val pstore = new SnapshotStore(spark, pdir, key = "id", buckets = 4, partitionCol = Some("cell"))
    pstore.overwrite((1L to 100L).map(i => (i, (i % 8).toInt, s"v$i")).toDF("id", "cell", "v"))
    pstore.upsert(Seq((200L, 2, "new"), (10L, 2, "updated")).toDF("id", "cell", "v"))
    assertSameRead(pstore.readPartitions(Seq(2, 5)).get,
      mergeSchemaRead(pdir, pstore.filesForPartitions(Seq(2, 5))), "partitioned store")

    // a store written before the sidecar existed: dropping the oldest
    // generation's .files makes every read naming it fall back
    val fsys = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fsys.delete(new Path(s"$dir/$firstGen/.files"), false))
    val legacy = new SnapshotStore(spark, dir, buckets = 4)
    assertSameRead(legacy.read().get, mergeSchemaRead(dir, live), "pre-sidecar store")
    legacy.upsert(Seq(("n2b", 2L, "u2b")).toDF("note", "user_id", "v"))
    val got = legacy.read().get.select("user_id", "v", "batch_id", "note").collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.get(2)), Option(r.getString(3)))).toMap
    assert(got.size == 90 && got(2L) == (("u2b", None, Some("n2b"))) &&
      got(85L) == (("v85", None, Some("n85"))) &&
      got(70L) == (("v70", Some(7L), None)) && got(40L) == (("v40", None, None)))
    assertSameRead(legacy.read().get, mergeSchemaRead(dir, legacy.liveFiles), "pre-sidecar store after upsert")
  }

  test("readForKeys over >32 files runs no listing or schema job; a colliding upsert runs its anti-join once") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_jobs").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 4)
    // every write lands one file per bucket, so the 40 files are a base
    // generation and nine fresh-key insert generations
    store.overwrite((1L to 40L).map(i => (i, s"v$i")).toDF("user_id", "v"))
    for (g <- 1L to 9L)
      store.upsert((g * 40 + 1 to g * 40 + 40).map(i => (i, s"v$i")).toDF("user_id", "v"))
    val probe = (1L to 40L).toDF("user_id")
    assert(store.filesForKeys(probe).size > 32, "setup: the probe must name more than 32 files")

    // the probe's bucket collect is the only job a keyed read may run
    val (_, probeJobs, _) = recorded(store.filesForKeys(probe))
    val (df, readJobs, _) = recorded(store.readForKeys(probe).get)
    assert(!readJobs.exists(_.contains("Listing leaf files")), s"listing job ran: $readJobs")
    assert(readJobs.size == probeJobs.size,
      s"a keyed read may not list files or merge footers in a job: $readJobs vs $probeJobs")
    assert(df.filter(col("user_id") <= 40L).count() == 40L)

    // every bucket collides: the anti-join is evaluated once, not once
    // for the write and again for each bloom pass
    val delta = (1L to 50L).map(i => (i, s"u$i")).toDF("user_id", "v").localCheckpoint()
    val (_, _, plans) = recorded(store.upsert(delta))
    assert(plans.count(_.contains("LeftAnti")) == 1,
      s"anti-join evaluations: ${plans.count(_.contains("LeftAnti"))}")
    val got = store.read().get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 400 && got(7L) == "u7" && got(300L) == "v300")
  }

  test("copy-on-write rewrite leaves one file per colliding bucket") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_cow").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 4)
    store.overwrite((1L to 200L).map(i => (i, s"v$i")).toDF("user_id", "v").repartition(6))
    // half of every bucket's keys: a delta the fold rule rewrites
    store.upsert(((1L to 50L) ++ (101L to 150L)).map(i => (i, s"u$i")).toDF("user_id", "v").repartition(6))
    val (_, after) = store.latestManifest().get
    assert(after.size == 4 && after.values.forall(_.size == 1),
      s"each rewritten bucket must be one file, got ${after.map { case (b, f) => b -> f.size }}")
    val got = store.read().get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 200 && got(1L) == "u1" && got(51L) == "v51")
  }

  // ---- merge-on-read: masked delta generations ----

  /** A merge-on-read store and its copy-on-write twin (every bucket the
    * blooms cannot clear folds), fed the same writes. */
  private final class Twins(name: String, buckets: Int, key: String = "user_id",
                            pcol: Option[String] = None) {
    private val root = Files.createTempDirectory(name).toString
    val dirs = Seq(s"$root/mor", s"$root/cow")
    val mor = new SnapshotStore(spark, dirs(0), key, buckets, pcol)
    val cow = new SnapshotStore(spark, dirs(1), key, buckets, pcol)
    cow.maskDeltas = false
    def apply(write: SnapshotStore => Unit): Unit = { write(mor); write(cow) }
    def assertSame(read: SnapshotStore => Option[DataFrame], what: String): Unit =
      assertSameRead(read(mor).get, read(cow).get, what)
  }

  private def masking(store: SnapshotStore): Set[String] = store.liveView.get.masking

  test("merge-on-read: the newest generation wins across three upserts of one key") {
    val s = spark
    import s.implicits._
    val t = new Twins("graft_mor_newest", buckets = 4)
    t(_.overwrite((1L to 100L).map(i => (i, s"v$i")).toDF("user_id", "v")))
    val bucket7 = t.mor.read().get.filter(col("user_id") === 7L).select("_metadata.file_path")
      .as[String].head().split('/').find(_.startsWith("snap_bucket=")).get.stripPrefix("snap_bucket=").toInt
    // key 7's bucket: masked, then folded (a bucket carries at most one
    // live mask), then masked again
    val baseFiles = t.mor.latestManifest().get._2(bucket7).size
    for ((g, files) <- Seq(1 -> (baseFiles + 1), 2 -> 1, 3 -> 2)) {
      t(_.upsert(Seq((7L, s"g$g"), (1000L + g, s"n$g")).toDF("user_id", "v")))
      assert(t.mor.latestManifest().get._2(bucket7).size == files, s"upsert $g")
      assert(t.mor.read().get.filter(col("user_id") === 7L).select("v").as[String].collect().toSeq == Seq(s"g$g"))
    }
    assert(masking(t.mor).nonEmpty && masking(t.cow).isEmpty)
    t.assertSame(_.read(), "full read")
    t.assertSame(_.readForKeys(Seq(7L, 8L).toDF("user_id")), "keyed read")
    assert(t.mor.read().get.filter(col("user_id") === 7L).select("v").as[String].collect().toSeq == Seq("g3"))
    assert(t.mor.validateWrite(Seq(7L, 1003L).toDF("user_id")) == 0L)
    assert(t.mor.keys().count() == 103L)
  }

  test("merge-on-read: a delta that adds a column nulls it on old rows; masked rows stay hidden") {
    val s = spark
    import s.implicits._
    val t = new Twins("graft_mor_evolve", buckets = 4)
    t(_.overwrite((1L to 100L).map(i => (i, s"v$i")).toDF("user_id", "v")))
    t(_.upsert(Seq((7L, "u7", 3L), (8L, "u8", 3L)).toDF("user_id", "v", "batch_id")))
    assert(masking(t.mor).nonEmpty && masking(t.cow).isEmpty)
    t.assertSame(_.read(), "evolved read")
    val got = t.mor.read().get.select("user_id", "v", "batch_id").collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.get(2)))).toMap
    assert(got.size == 100 && got(7L) == (("u7", Some(3L))) && got(9L) == (("v9", None)))
    // the mergeSchema fallback (generations without a file index)
    // applies the masks too
    val fsys = new Path(t.dirs.head).getFileSystem(spark.sparkContext.hadoopConfiguration)
    for ((dir, store) <- t.dirs.zip(Seq(t.mor, t.cow));
         gen <- store.liveFiles.map(_.takeWhile(_ != '/')).distinct)
      assert(fsys.delete(new Path(s"$dir/$gen/.files"), false))
    t.assertSame(_.read(), "evolved read without file indexes")
    assert(t.mor.read().get.filter(col("user_id") === 7L).count() == 1L)
  }

  test("merge-on-read: a subset read applies the masks of its view's version, not the newest") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_mor_view").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 4)
    store.overwrite((1L to 100L).map(i => (i, s"v$i")).toDF("user_id", "v"))
    store.upsert(Seq((7L, "u7")).toDF("user_id", "v"))
    val view = store.liveView.get
    assert(view.masking.nonEmpty, "setup: key 7's bucket is masked")
    // a later commit folds the masked bucket: the masking generation
    // leaves the newest manifest, but the view still names its files
    assert(store.compact(maxFilesPerBucket = 8) == 1)
    assert(store.liveView.get.masking.isEmpty)
    val got = store.readFileSubset(view, view.files).get
      .filter(col("user_id") === 7L).select("v").as[String].collect().toSeq
    assert(got == Seq("u7"), s"the superseded row must stay hidden, got $got")
  }

  test("merge-on-read: delete of a key living in the base and in a delta removes the visible row") {
    val s = spark
    import s.implicits._
    val t = new Twins("graft_mor_delete", buckets = 4)
    t(_.overwrite((1L to 100L).map(i => (i, s"v$i")).toDF("user_id", "v")))
    t(_.upsert(Seq((7L, "u7")).toDF("user_id", "v")))
    assert(masking(t.mor).nonEmpty, "setup: key 7's bucket is masked")
    val removed = (t.mor.delete(Seq(7L).toDF("user_id")), t.cow.delete(Seq(7L).toDF("user_id")))
    assert(removed == ((1L, 1L)), s"one visible row of key 7 removed, got $removed")
    t.assertSame(_.read(), "after delete")
    assert(t.mor.read().get.filter(col("user_id") === 7L).count() == 0L)
    assert(t.mor.read().get.count() == 99L)
    assert(masking(t.mor).isEmpty, "the delete rewrote the only masked bucket, every file of it")
  }

  test("merge-on-read: compact folds masks with rows unchanged") {
    val s = spark
    import s.implicits._
    val t = new Twins("graft_mor_compact", buckets = 4)
    t(_.overwrite((1L to 200L).map(i => (i, s"v$i")).toDF("user_id", "v")))
    t(_.upsert(Seq((7L, "u7"), (8L, "u8"), (9L, "u9"), (10L, "u10")).toDF("user_id", "v")))
    assert(masking(t.mor).nonEmpty)
    val before = t.mor.read().get.collect().map(_.toString).sorted.toSeq
    // under the file threshold, yet every masked bucket folds
    assert(t.mor.compact(maxFilesPerBucket = 8) > 0)
    assert(masking(t.mor).isEmpty, s"compaction must retire every mask, got ${masking(t.mor)}")
    assert(t.mor.read().get.collect().map(_.toString).sorted.toSeq == before)
    t.assertSame(_.read(), "after compact")
    assert(t.mor.compact(maxFilesPerBucket = 8) == 0, "nothing left to fold")
    // the retired masking generation's mask goes with its data files
    val fsys = new Path(t.dirs.head).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def masks() = fsys.listStatus(new Path(t.dirs.head))
      .count(st => st.isDirectory && fsys.exists(new Path(st.getPath, ".mask")))
    assert(masks() > 0)
    t.mor.vacuum(keepVersions = 1, minAgeMs = 0L)
    assert(masks() == 0, "vacuum must drop a dead generation's mask")
    assert(t.mor.read().get.collect().map(_.toString).sorted.toSeq == before)
  }

  test("merge-on-read: readVersion of pre-mask and post-mask versions") {
    val s = spark
    import s.implicits._
    val t = new Twins("graft_mor_tt", buckets = 4)
    t(_.overwrite((1L to 100L).map(i => (i, s"v$i")).toDF("user_id", "v")))
    t(_.upsert(Seq((7L, "u7")).toDF("user_id", "v")))
    t(_.upsert(Seq((7L, "w7"), (8L, "w8")).toDF("user_id", "v")))
    val Seq(v1, v2, v3) = t.mor.versions()
    assert(t.cow.versions() == Seq(v1, v2, v3))
    for (v <- Seq(v1, v2, v3)) t.assertSame(_.readVersion(v), s"version $v")
    def at(v: Long, k: Long) = t.mor.readVersion(v).get.filter(col("user_id") === k)
      .select("v").as[String].collect().toSeq
    assert(at(v1, 7L) == Seq("v7") && at(v2, 7L) == Seq("u7") && at(v3, 7L) == Seq("w7"))
    assert(at(v2, 8L) == Seq("v8") && at(v3, 8L) == Seq("w8"))
  }

  test("merge-on-read: a partitioned store through readPartitions") {
    val s = spark
    import s.implicits._
    val t = new Twins("graft_mor_pcol", buckets = 4, key = "id", pcol = Some("cell"))
    t(_.overwrite((1L to 200L).map(i => (i, (i % 4).toInt, s"v$i")).toDF("id", "cell", "v")))
    // key 10 stays in cell 2; key 11 moves from cell 3 to cell 1
    t(_.upsert(Seq((10L, 2, "updated"), (11L, 1, "moved")).toDF("id", "cell", "v")))
    assert(masking(t.mor).nonEmpty && masking(t.cow).isEmpty)
    // appends are unclustered, so a pruned read may hold rows of other
    // cells; callers filter on the column
    for (cells <- Seq(Seq(1), Seq(2), Seq(3), Seq(1, 3)))
      t.assertSame(_.readPartitions(cells).map(_.filter(col("cell").isin(cells: _*))), s"cells $cells")
    val cell3 = t.mor.readPartitions(Seq(3)).get.filter(col("cell") === 3)
    assert(cell3.filter(col("id") === 11L).count() == 0L, "the moved key's old row stays hidden")
    t.assertSame(_.read(), "full read")
  }

  test("merge-on-read: a store without key counts keeps copy-on-write") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_mor_legacy").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 4)
    store.overwrite((1L to 100L).map(i => (i, s"v$i")).toDF("user_id", "v"))
    val rows = store.read().get.collect().map(_.toString).sorted.toSeq
    // a generation written before key counts were recorded has no
    // #keys line in its file index
    val fsys = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (st <- fsys.listStatus(new Path(dir)) if st.getPath.getName.startsWith("data-")) {
      val p = new Path(st.getPath, ".files")
      val in = fsys.open(p)
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val out = fsys.create(p, true)
      try out.write(text.linesIterator.filterNot(_.startsWith("#keys=")).mkString("\n").getBytes("UTF-8"))
      finally out.close()
    }
    assert(store.read().get.collect().map(_.toString).sorted.toSeq == rows, "reads back identically")
    val (_, before) = store.latestManifest().get
    store.upsert(Seq((7L, "u7")).toDF("user_id", "v"))
    assert(masking(store).isEmpty, "no key counts: the bucket folds")
    val (_, after) = store.latestManifest().get
    val changed = before.keySet.filter(b => before(b) != after(b))
    assert(changed.size == 1 && after(changed.head).size == 1 &&
      !after(changed.head).exists(before(changed.head).contains),
      s"the colliding bucket is rewritten as one new file, got $changed")
    assert(store.read().get.filter(col("user_id") === 7L).select("v").as[String].collect().toSeq == Seq("u7"))
    assert(store.read().get.count() == 100L)
  }

  test("merge-on-read: a read naming a masking generation without its mask throws") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_mor_nomask").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 4)
    store.overwrite((1L to 100L).map(i => (i, s"v$i")).toDF("user_id", "v"))
    store.upsert(Seq((7L, "u7")).toDF("user_id", "v"))
    val gen = masking(store).head
    val fsys = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fsys.delete(new Path(s"$dir/$gen/.mask"), false))
    for ((what, read) <- Seq[(String, () => Option[DataFrame])](
        "read" -> (() => store.read()),
        "readForKeys" -> (() => store.readForKeys(Seq(7L).toDF("user_id"))),
        "readVersion" -> (() => store.readVersion(store.versions().last)))) {
      val e = intercept[IllegalStateException](read().map(_.collect()))
      assert(e.getMessage.contains("superseded"), s"$what: ${e.getMessage}")
    }
    // key-only reads need no mask
    assert(store.validateWrite(Seq(7L).toDF("user_id")) == 0L)
  }

  test("merge-on-read: a small colliding upsert runs no anti-join or bloom job; one file per touched bucket") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_mor_jobs").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 4)
    store.overwrite((1L to 400L).map(i => (i, s"v$i")).toDF("user_id", "v"))
    val (_, before) = store.latestManifest().get
    val delta = Seq((7L, "u7"), (50L, "u50"), (123L, "u123"), (301L, "u301"), (1001L, "n1"))
      .toDF("user_id", "v").localCheckpoint()
    val (_, _, plans, rddJobs) = recordedWithRdd(store.upsert(delta))
    assert(masking(store).nonEmpty, "setup: the colliding buckets are masked, not folded")
    assert(!plans.exists(_.contains("LeftAnti")), "no anti-join over the stored buckets")
    assert(!plans.exists(_.contains("approx_count_distinct")), "no bloom sizing job")
    assert(rddJobs == 0, s"no bloom build job, got $rddJobs bare RDD jobs")
    val (_, after) = store.latestManifest().get
    val added = after.map { case (b, files) => b -> files.filterNot(before.getOrElse(b, Nil).contains) }
      .filter(_._2.nonEmpty)
    assert(added.nonEmpty && added.values.forall(_.size == 1),
      s"one new file per touched bucket, got ${added.map { case (b, f) => b -> f.size }}")
    assert(before.forall { case (b, files) => files.forall(after(b).contains) }, "nothing rewritten")
    val got = store.read().get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 401 && got(7L) == "u7" && got(301L) == "u301" && got(8L) == "v8")
  }

  test("layout: after every writer each generation holds at most one file per bucket (per partition value)") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft_snap_layout").toString
    val rows = (1L to 200L).map(i => (i, s"v$i", (i % 3).toInt)).toDF("user_id", "v", "p")
    val writers = Seq[(String, SnapshotStore => Unit)](
      "overwrite of a 4-slice frame" -> (_.overwrite(rows.repartition(4))),
      "upsert fold" -> (_.upsert(rows.filter(col("user_id") <= 100L)
        .withColumn("v", concat(lit("u"), col("v"))).repartition(4))),
      "masked append" -> { st =>
        st.upsert(Seq((7L, "m7", 1), (1000L, "n", 1)).toDF("user_id", "v", "p").repartition(2))
        assert(masking(st).nonEmpty, "setup: key 7's bucket is masked")
      },
      "compact" -> (st => assert(st.compact() > 0)),
      "delete" -> (st => assert(st.delete(Seq(8L, 9L).toDF("user_id").repartition(3)) == 2L)))
    for (store <- Seq(new SnapshotStore(spark, s"$root/sized"),
                      new SnapshotStore(spark, s"$root/partitioned", buckets = 4, partitionCol = Some("p")));
         (what, write) <- writers) {
      val before = store.versions().lastOption
      write(store)
      assert(store.versions().lastOption != before, s"$what: setup commits a version")
      // a file's dir is generation/bucket[/partition value]
      val fanOut = store.liveFiles.groupBy(f => f.substring(0, f.lastIndexOf('/'))).filter(_._2.size > 1)
      assert(fanOut.isEmpty, s"$what: more than one file in ${fanOut.keys.toSeq.sorted}")
    }
  }

  test("layout: a copy-on-write rewrite of a bucket past the advisory size splits across tasks; compact folds it") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_split").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 1)
    // ~75 incompressible bytes a row: the one bucket is ~300 KB
    def frame(tag: String) = (1L to 4000L).map { i =>
      val u = java.util.UUID.nameUUIDFromBytes(s"$i".getBytes("UTF-8")).toString
      (i, s"$tag$u$u")
    }.toDF("user_id", "v").repartition(4)
    store.overwrite(frame("v"))
    assert(store.liveFiles.size == 1, "setup: one file")
    withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k") {
      // every key: the fold rule rewrites the bucket copy-on-write
      store.upsert(frame("u"))
      // each task writes one file per layout dir, so files are tasks
      val files = store.liveFiles
      assert(files.size > 1 && files.map(_.takeWhile(_ != '/')).distinct.size == 1,
        s"the rewrite of the one bucket must run in more than one task, got $files")
      assert(store.compact() == 1 && store.liveFiles.size == 1, "compact folds the split bucket into one file")
    }
    val got = store.read().get.as[(Long, String)].collect()
    assert(got.length == 4000 && got.map(_._1).distinct.length == 4000 && got.forall(_._2.startsWith("u")))
  }

  test("a torn .files sidecar reads through its listing and footers: rows equal, masked rows stay hidden") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_snap_torn").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 4)
    store.overwrite((1L to 100L).map(i => (i, s"v$i")).toDF("user_id", "v"))
    store.upsert(Seq((7L, "u7"), (1000L, "n")).toDF("user_id", "v"))
    assert(masking(store).nonEmpty, "setup: key 7's bucket is masked")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val probe = Seq(7L, 8L, 1000L).toDF("user_id")
    val intact = (rows(store.read().get), rows(store.readForKeys(probe).get), store.keys().count())
    // cut every live generation's file index in the middle of its first
    // file line: no file of the generation is left in it
    val fsys = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (gen <- store.liveFiles.map(_.takeWhile(_ != '/')).distinct) {
      val p = new Path(s"$dir/$gen/.files")
      val in = fsys.open(p)
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val lines = text.split("\n")
      val cut = lines(0).length + lines(1).length + 2 + lines(2).length / 2
      val out = fsys.create(p, true)
      try out.write(text.take(cut).getBytes("UTF-8")) finally out.close()
    }
    assert((rows(store.read().get), rows(store.readForKeys(probe).get), store.keys().count()) == intact)
    assert(store.read().get.filter(col("user_id") === 7L).select("v").as[String].collect().toSeq == Seq("u7"),
      "the masked key's superseded row stays hidden")
  }
}
