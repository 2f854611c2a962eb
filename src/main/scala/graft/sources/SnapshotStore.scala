package graft.sources

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.graftbridge.FileRelation
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import SnapshotStore._

/** Keyed snapshot store with UPSERT semantics — the Spark-native
  * stand-in for the reference's MySQL `user_tags` table and its
  * `INSERT ... ON DUPLICATE KEY UPDATE` writer (reference:
  * src/writers/optimized_mysql_writer.py:73-178).
  *
  * Layout + commit protocol (object-store safe, Delta/Iceberg style):
  * rows are hash-bucketed on `hash(key) % buckets` into immutable
  * parquet files under unique `data-*` directories — files are NEVER
  * overwritten or renamed. A versioned text manifest lists the live
  * files per bucket; committing a write is ONE atomic single-file
  * manifest publish. Consequences:
  *
  *  - an upsert reads and replaces only the buckets its keys touch
  *    (manifest-driven file pruning — the incremental nightly batch
  *    does bounded I/O against a billions-row snapshot);
  *  - a crashed job leaves orphan data files but never a corrupt or
  *    half-visible snapshot (readers follow the last manifest);
  *  - lazy readers opened BEFORE an upsert keep reading their
  *    version's files afterwards (snapshot isolation) — directory
  *    rename/delete protocols break exactly this on object stores;
  *  - [[vacuum]] reclaims files no manifest references.
  *
  * READ pruning mirrors the write pruning: [[readForKeys]] opens only
  * the buckets a probe's keys hash into (point lookups / validation /
  * incremental-user detection do O(probed buckets) I/O, not
  * O(snapshot)), and with `partitionCol` set the layout gains a second
  * level — each bucket's files are split by that column's value, so
  * [[readPartitions]] opens only the requested values' files. The
  * partition column is how a serving-shaped store (ANN codes keyed by
  * vector id but probed by cell; signature indexes keyed by doc id but
  * probed by band key) reads O(probed fraction) instead of O(store)
  * per query batch.
  *
  * The manifest is also the store's FILE INDEX. Each data generation
  * (one `data-*` dir, one write) carries a `.files` sidecar, written
  * before the manifest commit that publishes it: the generation's
  * Spark schema, its distinct keys per bucket, and every data file's
  * byte size and modification time. Every read resolves the
  * manifest's file list against those records and opens one parquet
  * relation directly — no listing job (Spark lists named files in a
  * job with one task per file past 32 paths) and no footer-merge job;
  * the schema is the generations' schemas merged exactly as
  * `mergeSchema` merges footers. A generation whose sidecar is
  * missing (written before sidecars existed), torn, or lacks a file
  * the manifest names gets its record built in memory from a listing
  * of its dir and the schema a `mergeSchema` read of its files infers,
  * with no key counts — so old and damaged stores read back
  * identically through the same path.
  *
  * LAYOUT. Every write clusters its rows by the layout columns, so a
  * generation holds one file per bucket (per partition value when the
  * store has a partition column) — except that an unpartitioned
  * overwrite, copy-on-write upsert or delete whose buckets average
  * more bytes than AQE's advisory partition size is rebalanced, and
  * AQE splits such a bucket across tasks, one file per split, rather
  * than write it from one task. [[compact]] folds a split bucket back
  * into one file.
  *
  * MERGE-ON-READ for small upserts (Iceberg v2 equality deletes, per
  * bucket): a delta key that may already be stored does not force its
  * bucket through a rewrite. The delta is appended as a new generation
  * whose `.mask` sidecar lists, per bucket, the keys it replaces and
  * the generations the bucket held files of when it committed; reads
  * hide a masked key's rows in exactly those generations, so the newest
  * generation wins. The manifest marks masking generations with a
  * `#mask=` header line. Masks are correctness data: a read that names
  * a masking generation whose mask cannot be loaded THROWS rather than
  * return superseded rows. Key-only reads ([[keys]], [[keysFor]], the
  * collision probe, [[validateWrite]]) skip masks — a masked key is
  * always present in the generation that masks it. A bucket FOLDS
  * (the key probe plus a copy-on-write rewrite through its mask)
  * instead of masking when the delta holds a large share of its keys,
  * when it already holds many files, or when it already carries a live
  * mask (so a bucket has at most one). A generation without recorded
  * key counts counts as holding no keys, so a bucket made only of such
  * generations always folds by the share rule.
  * [[delete]] and [[compact]] also read through masks and replace
  * every file of the buckets they rewrite.
  *
  * WRITE. Every writer takes one protocol, in this order:
  *  1. read the newest manifest, the write's base version;
  *  2. plan against it: the probe and fold rule of an upsert, the key
  *     scan of an upsert or delete, the fat buckets of a compaction;
  *  3. write the new generations — one for an overwrite's or an
  *     upsert's appended rows, one for the REWRITE STEP's output (the
  *     rewritten buckets' live rows read through their masks, minus the
  *     replaced or deleted keys, plus the delta's rows of those buckets,
  *     checkpointed once) — each as its data files, then its `.blooms`,
  *     its `.mask` (masked appends only) and its `.files` sidecars;
  *  4. the PUBLISH STEP: the test hook, then the manifest's create-if-
  *     absent publish as the base version + 1 ([[SmallFile.create]]:
  *     written whole to a temp, then hard-linked to the version name
  *     locally or renamed without overwrite elsewhere, so of two writers
  *     of one version exactly one publishes). A lost publish re-runs the
  *     write from step 1 against the winner's state, except that an
  *     [[overwrite]] keeps its data and retries only the publish.
  * A write with nothing to change (a delete of absent keys, a
  * compaction with nothing fat) publishes no version.
  *
  * BUCKET COUNT. Every open file costs a scan task and every written
  * file a task-side write, whatever its size, so the count follows
  * bytes: a write that lays out the store (its first write, or an
  * [[overwrite]]) without an explicit count takes
  * [[SnapshotStore.suggestBuckets]] of the frame's optimized-plan size
  * estimate (no job) against the session's
  * `spark.sql.files.maxPartitionBytes` — one bucket file is then at
  * most one scan task (a one-row-group file cannot split), so sizing
  * never serialises a read. The count a store recorded is its layout
  * from then on; a store recorded without one, or a frame Spark cannot
  * size, takes [[SnapshotStore.LegacyBuckets]].
  *
  * On a lakehouse table format the same calls map to `MERGE INTO` —
  * the API is the contract, not the file layout.
  *
  * @param buckets the bucket count a layout-writing write uses; 0 (the
  *                default) sizes it from the written frame's bytes.
  *                Upserts, deletes, compactions and reads always hash
  *                with the count the store recorded.
  */
final class SnapshotStore(spark: SparkSession, path: String, key: String = "user_id",
                          buckets: Int = 0, partitionCol: Option[String] = None) {

  private val BucketCol = "snap_bucket"
  private val PartDir = "snap_part"
  private val ManifestPrefix = "manifest-"
  private val BloomFile = ".blooms"
  private val FilesFile = ".files"
  private val MaskFile = ".mask"
  private val MaskMarker = "#mask="
  private val MaskGenCol = "__graft_mask_gen"
  /** Fold rule, share: a bloom-hit bucket whose delta holds at least
    * 1/FoldShare of its live keys is rewritten instead of masked — the
    * rewrite then costs about what the append does, and masking would
    * make every later read hide a large share of the bucket. */
  private val FoldShare = 4
  /** Fold rule, files: every append adds a file per bucket that each
    * reader of the bucket opens; past this many the bucket is rewritten
    * back to one file. */
  private val MaxFilesPerBucket = 8
  /** Commit attempts of one write: enough for realistic writer fan-in
    * (each retry re-plans against the winner's state), few enough that a
    * livelocked store fails loudly. */
  private val CommitAttempts = 5
  /** Delta sizes up to this take the bloom-cleared probe (keys are
    * collected driver-side to test against the sidecar blooms); larger
    * deltas fall back to the column-scan probe, whose cost the delta
    * itself then dwarfs. */
  private val ProbeKeyBound = 100000

  private def fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def withBucket(df: DataFrame, bucketCount: Int): DataFrame =
    df.withColumn(BucketCol, pmod(hash(col(key)), lit(bucketCount)))

  /** `df`'s optimized-plan size estimate (no job), or None when Spark
    * cannot size the frame (an RDD-backed relation estimates as
    * `spark.sql.defaultSizeInBytes`). */
  private def estimatedBytes(df: DataFrame): Option[Long] = {
    val estimate = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (estimate >= BigInt(spark.sessionState.conf.defaultSizeInBytes)) None
    else Some(estimate.toLong)
  }

  /** The bucket count a layout-writing write of a frame of `estimate`
    * bytes uses: the explicit constructor count, else the estimate
    * against the scan split size — or [[LegacyBuckets]] when Spark
    * cannot size the frame. */
  private def layoutBuckets(estimate: Option[Long]): Int =
    if (buckets > 0) buckets
    else estimate.fold(LegacyBuckets)(
      suggestBuckets(_, 1, spark.sessionState.conf.filesMaxPartitionBytes))

  /** The bytes of the stored files `df`, a read built by [[readFiles]],
    * scans: the sizes its file relations were built from (no I/O). */
  private def storedBytes(df: DataFrame): Long =
    df.queryExecution.analyzed.collectLeaves()
      .collect { case l: LogicalRelation => l.relation.sizeInBytes }.sum

  /** The count `m` was written with — an upsert MUST hash with it (see
    * [[latestRaw]]). A manifest recorded without one predates the header
    * and was written with the constructor's count, [[LegacyBuckets]]
    * unless one was given. */
  private def recordedBuckets(m: Manifest): Int =
    m.recordedBuckets.getOrElse(if (buckets > 0) buckets else LegacyBuckets)

  /** Duplicate the partition column into the internal layout column:
    * `partitionBy` strips its columns from the data files, so the
    * user's column must survive as data while its copy becomes the
    * directory. */
  private def withPart(df: DataFrame, pcol: Option[String]): DataFrame =
    pcol.fold(df)(c => df.withColumn(PartDir, col(c)))

  // ---- manifest protocol ----

  private def manifestPath(version: Long) = new Path(path, f"$ManifestPrefix$version%012d.txt")

  private def readManifest(version: Long): Manifest = {
    val lines = SmallFile.read(fs, manifestPath(version)).linesIterator.filter(_.nonEmpty).toSeq
    val recorded = lines.collectFirst {
      case l if l.startsWith("#buckets=") => l.stripPrefix("#buckets=").toInt
    }
    val pcol = lines.collectFirst {
      case l if l.startsWith("#pcol=") => l.stripPrefix("#pcol=")
    }
    val masking = lines.collect { case l if l.startsWith(MaskMarker) => l.stripPrefix(MaskMarker) }
    val mapping = lines.filterNot(_.startsWith("#"))
      .map { line => val Array(b, f) = line.split("\t", 2); (b.toInt, f) }
      .groupBy(_._1).map { case (b, fs0) => b -> fs0.map(_._2) }
    Manifest(version, recorded, pcol, mapping, masking.toSet)
  }

  /** The newest manifest. The recorded bucket count is part of the
    * layout — an upsert MUST hash with the count the snapshot was
    * written with, or a key's new row lands in a different bucket than
    * its old one and the upsert silently duplicates the key. The
    * recorded partition column binds the same way: later writers keep
    * splitting by it even if constructed without. */
  private def latestRaw(): Option[Manifest] = versions().lastOption.map(readManifest)

  private[sources] def latestManifest(): Option[(Long, Map[Int, Seq[String]])] =
    latestRaw().map(m => (m.version, m.mapping))

  /** Publish a new manifest version through [[SmallFile.create]], which
    * writes it whole and publishes it only if no writer published the
    * version first; a lost race throws [[CommitConflict]] and leaves the
    * winner's manifest as it is. `masking` names the generations whose
    * masks readers must apply; a generation with no file left in
    * `mapping` drops out of the header. */
  private[sources] def commit(version: Long, bucketCount: Int,
                              mapping: Map[Int, Seq[String]],
                              pcol: Option[String] = None,
                              masking: Set[String] = Set.empty): Unit = {
    val liveGens = mapping.values.flatten.map(generationDir).toSet
    val header = (s"#buckets=$bucketCount" +: pcol.map(c => s"#pcol=$c").toSeq) ++
      masking.filter(liveGens).toSeq.sorted.map(MaskMarker + _)
    val body = (header ++ mapping.toSeq.sortBy(_._1)
      .flatMap { case (b, files) => files.sorted.map(f => s"$b\t$f") })
      .mkString("\n")
    val dst = manifestPath(version)
    try SmallFile.create(fs, dst, body.getBytes(StandardCharsets.UTF_8))
    catch {
      case _: FileAlreadyExistsException =>
        throw new CommitConflict(
          s"manifest version $version already published — concurrent writer conflict ($dst)")
    }
  }

  /** Test hook: runs inside the publish step, after a write has read its
    * base version and written its data files, immediately before its
    * commit — the window a concurrent writer races in. Specs inject a
    * competing commit here to exercise the retry deterministically. */
  private[sources] var onBeforeCommit: () => Unit = () => ()

  /** The publish step, the one commit sequence of every writer: read the
    * newest manifest (None: an empty store), let `attempt` plan and write
    * against it, run the test hook, and commit the manifest `attempt`
    * returns — its layout, live files and masking generations — as the
    * next version (the publish numbers it). An attempt that returns no
    * manifest publishes nothing. A commit lost to a concurrent writer
    * re-runs the attempt against the winner's state, so both writes land
    * in some serial order; the loser's data files become orphans that
    * [[vacuum]] reclaims. Only conflicts retry (capped backoff, at most
    * [[CommitAttempts]] attempts): a schema error or a dead file system
    * is not a race to wait out. */
  private def publish[T](attempt: Option[Manifest] => (T, Option[Manifest]),
                         tries: Int = 1, backoff: Long = 50L): T =
    try {
      val base = latestRaw()
      val (out, next) = attempt(base)
      next.foreach { n =>
        onBeforeCommit()
        commit(base.fold(0L)(_.version) + 1, recordedBuckets(n), n.mapping, n.recordedPcol, n.masking)
      }
      out
    } catch {
      case e: CommitConflict if tries < CommitAttempts =>
        System.err.println(s"[graft] snapshot commit conflict, retry $tries: ${e.getMessage}")
        Thread.sleep(backoff)
        publish(attempt, tries + 1, math.min(backoff * 2, 2000L))
    }

  /** The rewrite step, the one copy-on-write of every rewriting writer:
    * the live rows of `rewritten` (buckets of `m`), read through their
    * masks, without the rows of the keys in `dropped`, plus `added` (rows
    * of those buckets, laid out; a column either side lacks is null on
    * the other, so a schema evolution lands), checkpointed so the write
    * and both bloom passes read one evaluation, then written as one
    * generation. `split` lets a bucket past AQE's advisory size split
    * across write tasks; [[compact]] passes false, because a split bucket
    * would stay fat. Returns `m`'s mapping with those buckets replaced (a
    * bucket left without rows drops out) and the number of stored rows
    * dropped, counted by observations on the checkpoint's one job. */
  private def rewrite(m: Manifest, rewritten: Set[Int], dropped: Option[DataFrame] = None,
                      added: Option[DataFrame] = None,
                      split: Boolean = true): (Map[Int, Seq[String]], Long) =
    if (rewritten.isEmpty) (m.mapping, 0L)
    else {
      val stored = readFiles(rewritten.toSeq.sorted.flatMap(m.mapping.getOrElse(_, Nil)), m.masking).get
      val (read, kept) = (Observation(), Observation())
      val live = withPart(withBucket(stored, recordedBuckets(m)), m.recordedPcol)
        .observe(read, count(lit(1)).as("n"))
      val keep = dropped.fold(live)(live.join(_, Seq(key), "left_anti"))
        .observe(kept, count(lit(1)).as("n"))
      val rows = added.fold(keep)(keep.unionByName(_, allowMissingColumns = true)).localCheckpoint()
      val files = writeData(rows, m.recordedPcol, rewritten.size, if (split) storedBytes(stored) else 0L)
      ((m.mapping -- rewritten) ++ files,
        read.get("n").asInstanceOf[Long] - kept.get("n").asInstanceOf[Long])
    }

  /** Write `df` (already bucketed/partitioned) into a fresh immutable
    * data dir with its bloom, file-index and (given `masks`) mask
    * sidecars; return bucket → relative file paths. With a partition
    * column the files sit one level deeper (`snap_bucket=B/snap_part=V/…`),
    * which is what [[readPartitions]] prunes on. `spread` is the number
    * of buckets the write covers. `bytes` is the write's size where the
    * caller lets a large bucket split: the stored bytes a copy-on-write
    * rewrite or a delete reads, an overwrite's estimate (`Long.MaxValue`
    * when Spark cannot size it); 0 for an append and a compaction.
    * `known` is the write's distinct keys per bucket when the caller
    * already collected them: the blooms and key counts are then built
    * on the driver, and the write is the only Spark job. */
  private def writeData(bucketed: DataFrame, pcol: Option[String], spread: Int, bytes: Long,
                        known: Option[Map[Int, Seq[Any]]] = None,
                        masks: Map[Int, MaskEntry] = Map.empty): Map[Int, Seq[String]] = {
    val dataDir = s"data-${java.util.UUID.randomUUID}"
    val layoutCols = BucketCol +: (if (pcol.isDefined) Seq(PartDir) else Nil)
    // The layout rule, for every writer: partitionBy fans each task out
    // to every layout dir it holds rows for, so an unclustered write
    // leaves tasks × dirs files (measured: a 450k-doc band-store seed
    // began writing ~65k small files; a 4-slice overwrite wrote 4 files
    // into a one-bucket store). One exchange keyed on the layout puts
    // each populated (bucket, value) in one task, so each gets one file.
    //  - With a partition column the exchange takes the session's
    //    shuffle partitions and AQE sizes it.
    //  - A write whose buckets average more than AQE's advisory
    //    partition size is REBALANCED: AQE splits such a bucket across
    //    tasks (one file per split) instead of one task writing all of
    //    it, and still spreads the write over the cores.
    //  - Any other write takes min(buckets, cores) tasks, explicitly:
    //    AQE coalesces a small write onto ONE task that writes every
    //    bucket's file in series, and none of its buckets is big enough
    //    for a split to pay.
    // An append passes no size: a delta's estimate is unreliable (an
    // inner join's estimate is its sides' product), and an inflated one
    // would cost the small appends their explicit count.
    val cols = layoutCols.map(col)
    val advisory = spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val clustered =
      if (pcol.isDefined) bucketed.repartition(cols: _*)
      else if (bytes / math.max(1, spread) > advisory) bucketed.hint("rebalance", cols: _*)
      else bucketed.repartition(math.max(1, math.min(spread, spark.sparkContext.defaultParallelism)),
        cols: _*)
    clustered.write.partitionBy(layoutCols: _*).parquet(s"$path/$dataDir")
    val keyCounts = known match {
      case Some(keys) =>
        saveBlooms(dataDir, keys.map { case (b, ks) =>
          val bf = BloomFilter.create(math.max(ks.size.toLong, 64L), BloomFpp)
          ks.foreach(k => if (k != null) bf.put(k))
          b -> bf
        })
        keys.map { case (b, ks) => b -> ks.size.toLong }
      case None => writeBlooms(bucketed, dataDir)
    }
    if (masks.nonEmpty) writeMask(dataDir, bucketed.schema(key).dataType, masks)
    val written = parquetFilesUnder(new Path(s"$path/$dataDir"))
    val out = written.map { st =>
      val rel = relative(st)
      bucketOf(rel).getOrElse(sys.error(s"no bucket segment in $rel")) -> rel
    }.groupBy(_._1).map { case (b, fs0) => b -> fs0.map(_._2) }
    // partitionBy strips the layout columns from the files: the data
    // schema every footer of this generation carries is the rest
    writeFileIndex(dataDir,
      StructType(bucketed.schema.filterNot(f => layoutCols.contains(f.name))), written, keyCounts)
    out
  }

  private lazy val rootPrefix = fs.makeQualified(new Path(path)).toUri.getPath.stripSuffix("/") + "/"

  /** `st`'s path relative to the store root. */
  private def relative(st: FileStatus): String = st.getPath.toUri.getPath.stripPrefix(rootPrefix)

  /** Every parquet file under `dir`. Walks with `listStatus`: on the
    * local file system `listFiles` builds a `LocatedFileStatus` per
    * file, whose permission copy forks `ls -ld` once per file. */
  private def parquetFilesUnder(dir: Path): Vector[FileStatus] =
    fs.listStatus(dir).toVector.flatMap { st =>
      if (st.isDirectory) parquetFilesUnder(st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) Vector(st)
      else Vector.empty
    }

  // ---- file-index sidecar: manifest-resolved reads ----

  /** Persist one generation's file index: `#schema=<Spark schema JSON>`,
    * `#keys=<bucket:count,…>`, then `file<TAB>bytes<TAB>mtime` per data
    * file, paths relative to the generation dir. */
  private def writeFileIndex(dataDir: String, schema: StructType, files: Seq[FileStatus],
                             keyCounts: Map[Int, Long]): Unit = {
    val counts = keyCounts.toSeq.sorted.map { case (b, n) => s"$b:$n" }.mkString("#keys=", ",", "")
    val body = (s"#schema=${schema.json}" +: counts +: files.map { st =>
      s"${relative(st).stripPrefix(dataDir + "/")}\t${st.getLen}\t${st.getModificationTime}"
    }).mkString("\n")
    val out = fs.create(new Path(s"$path/$dataDir/$FilesFile"), true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** One generation's record: its `.files` sidecar — or, when that is
    * missing, torn, or lacks one of `named` (paths relative to the
    * generation dir), one built in memory from a listing of the dir and
    * the schema a `mergeSchema` read of the listed files infers (a
    * footer job), with no key counts. Throws when a named file is not
    * on disk either. */
  private def generation(dataDir: String, named: Seq[String]): Generation = {
    val recorded = try {
      val lines = SmallFile.read(fs, new Path(s"$path/$dataDir/$FilesFile")).linesIterator.toVector
      Some(Generation(
        DataType.fromJson(lines.head.stripPrefix("#schema=")).asInstanceOf[StructType],
        lines.tail.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
          val Array(f, len, mtime) = l.split("\t")
          f -> (len.toLong, mtime.toLong)
        }.toMap,
        lines.collectFirst { case l if l.startsWith("#keys=") =>
          l.stripPrefix("#keys=").split(',').filter(_.nonEmpty).map { e =>
            val Array(b, n) = e.split(':')
            b.toInt -> n.toLong
          }.toMap
        }.getOrElse(Map.empty)))
    } catch { case NonFatal(_) => None }
    recorded.filter(g => named.forall(g.files.contains)).getOrElse {
      val listed = parquetFilesUnder(new Path(s"$path/$dataDir"))
      val files = listed.map(st =>
        relative(st).stripPrefix(dataDir + "/") -> (st.getLen, st.getModificationTime)).toMap
      named.find(!files.contains(_)).foreach(f =>
        throw new java.io.FileNotFoundException(s"snapshot $path: live file $dataDir/$f is missing"))
      Generation(spark.read.option("mergeSchema", "true")
        .parquet(listed.map(_.getPath.toString): _*).schema, files, Map.empty)
    }
  }

  /** The records of the generations among `files`, by generation dir. */
  private def generations(files: Seq[String]): Map[String, Generation] =
    files.groupBy(generationDir).map { case (d, fs0) =>
      d -> generation(d, fs0.map(_.substring(d.length + 1)))
    }

  private def generationDir(file: String): String = file.takeWhile(_ != '/')

  private def bucketOf(file: String): Option[Int] = file.split('/').collectFirst {
    case seg if seg.startsWith(s"$BucketCol=") => seg.stripPrefix(s"$BucketCol=").toInt
  }

  // mergeSchema semantics: a snapshot legitimately mixes file
  // generations (upsert rewrites only touched buckets), so after a
  // schema evolution the live file set has both pre- and
  // post-evolution footers — a plain read takes ONE footer's schema
  // and silently drops or surfaces the evolved column depending on
  // file order. Merging unions the footers (missing columns null),
  // which is the same contract upsert's allowMissingColumns union
  // promises. Generations merge in dir-name order, which is the
  // file-path order a `mergeSchema` read folds footers in (a
  // generation's files share its dir prefix and one schema). The masks
  // of the masking generations among `files` apply.
  private def readFiles(files: Seq[String], masking: Set[String]): Option[DataFrame] =
    if (files.isEmpty) None
    else {
      val gens = generations(files)
      val fsys = fs
      val blockSize = fsys.getDefaultBlockSize(new Path(path))
      val statuses = files.map { f =>
        val d = generationDir(f)
        val (len, mtime) = gens(d).files(f.substring(d.length + 1))
        new FileStatus(len, false, 1, blockSize, mtime, fsys.makeQualified(new Path(s"$path/$f")))
      }
      Some(withMasks(FileRelation.parquet(spark, statuses,
        FileRelation.mergeSchemas(spark, gens.keys.toSeq.sorted.map(gens(_).schema))),
        files, masking))
    }

  // key-column-only read, masks NOT applied: a masked key is always
  // present in the generation that masks it, so the key set is the same
  private def readKeys(files: Seq[String]): Option[DataFrame] =
    readFiles(files, Set.empty).map(_.select(key))

  // ---- mask sidecar: merge-on-read deltas ----
  //
  // A masking generation's `.mask` holds, per bucket, the generations
  // the bucket held files of when it committed and the keys whose rows
  // it replaces there. A row is hidden when its key is in a mask that
  // lists its generation. A key hashes to one bucket, so a generation
  // stands for exactly its files of that bucket; generations are
  // recorded rather than ordered by dir name, so order never matters.

  /** Key types a mask can persist; a store keyed otherwise always folds. */
  private def maskable(dt: DataType): Boolean =
    dt == LongType || dt == IntegerType || dt == StringType

  private def writeMask(dataDir: String, keyType: DataType, masks: Map[Int, MaskEntry]): Unit = {
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      fs.create(new Path(s"$path/$dataDir/$MaskFile"), true)))
    try {
      out.writeUTF(keyType.json)
      out.writeInt(masks.size)
      masks.toSeq.sortBy(_._1).foreach { case (b, e) =>
        out.writeInt(b)
        out.writeInt(e.gens.size)
        e.gens.foreach(out.writeUTF)
        out.writeInt(e.keys.size)
        e.keys.foreach { k =>
          keyType match {
            case LongType => out.writeLong(k.asInstanceOf[Number].longValue)
            case IntegerType => out.writeInt(k.asInstanceOf[Number].intValue)
            case _ =>
              val bytes = k.toString.getBytes(StandardCharsets.UTF_8)
              out.writeInt(bytes.length); out.write(bytes)
          }
        }
      }
    } finally out.close()
  }

  /** One masking generation's masks by bucket. Throws when they cannot
    * be read: without them a read would return superseded rows. */
  private def maskOf(dataDir: String): Map[Int, MaskEntry] =
    try {
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
        fs.open(new Path(s"$path/$dataDir/$MaskFile"))))
      try {
        val keyType = DataType.fromJson(in.readUTF())
        (0 until in.readInt()).map { _ =>
          val b = in.readInt()
          val gens = Vector.fill(in.readInt())(in.readUTF())
          val keys = Vector.fill[Any](in.readInt())(keyType match {
            case LongType => in.readLong()
            case IntegerType => in.readInt()
            case _ =>
              val bytes = new Array[Byte](in.readInt())
              in.readFully(bytes)
              new String(bytes, StandardCharsets.UTF_8)
          })
          b -> MaskEntry(gens, keys)
        }.toMap
      } finally in.close()
    } catch {
      case NonFatal(e) => throw new IllegalStateException(
        s"snapshot $path: generation $dataDir masks older rows but its $MaskFile " +
          "cannot be read; refusing to return superseded rows", e)
    }

  /** The live masks among `files`, with their buckets: a masking
    * generation's mask of bucket b is live while the generation's own
    * file of b is among them — a rewrite of b replaces every file of b,
    * that one too. */
  private def liveMasks(files: Seq[String], masking: Set[String]): Seq[(Int, MaskEntry)] = {
    val held = files.flatMap(f => bucketOf(f).map(generationDir(f) -> _)).toSet
    held.map(_._1).filter(masking).toSeq.sorted
      .flatMap(g => maskOf(g).toSeq.sortBy(_._1).filter { case (b, _) => held((g, b)) })
  }

  /** `df` (a read of `files`) without the rows the live masks among
    * `files` hide: one broadcast left-anti equi-join on (key,
    * generation) against a local relation of the masked keys and the
    * generations each mask covers — no job per file, and no plan
    * literal that grows with the store. */
  private def withMasks(df: DataFrame, files: Seq[String], masking: Set[String]): DataFrame = {
    val masks = liveMasks(files, masking).map(_._2)
    if (masks.forall(_.keys.isEmpty)) return df
    val keyType = df.schema(key).dataType
    def coerce(k: Any): Any = keyType match {
      case LongType => k.asInstanceOf[Number].longValue
      case IntegerType => k.asInstanceOf[Number].intValue
      case StringType => k.toString
      case _ => k
    }
    val hidden = spark.createDataFrame(
      masks.flatMap(e => for (k <- e.keys; g <- e.gens) yield Row(coerce(k), g)).asJava,
      StructType(Seq(StructField(key, keyType), StructField(MaskGenCol, StringType))))
    // a row's generation is the dir right above its bucket dir (the
    // greedy prefix skips any look-alike segment in the store path)
    df.withColumn(MaskGenCol,
        regexp_extract(col("_metadata.file_path"), s".*/(data-[^/]+)/$BucketCol=", 1))
      .join(broadcast(hidden), Seq(key, MaskGenCol), "left_anti")
      .drop(MaskGenCol)
  }

  // ---- bloom sidecar: O(delta) collision probes ----
  //
  // Even column-pruned, the key-scan probe reads O(store keys) per
  // upsert once a uniform delta touches every bucket — at 10⁹ rows
  // that is GBs per micro-batch on the WRITE path, the same per-batch
  // scan the read paths were cured of. Each data generation therefore
  // carries a `.blooms` sidecar (per-bucket key bloom, 0.1% FPR, sized
  // from that write's per-bucket counts): a small delta tests its
  // collected keys against a few KB of blooms and masks or key-scans
  // ONLY the buckets with a bloom hit. The sidecar is advisory —
  // missing or unreadable blooms (pre-bloom generations, crashed
  // writes) count as a hit on every key, never as a wrong answer.

  /** Build and persist per-bucket key blooms for one written data
    * generation. Two O(delta) passes: per-bucket APPROX-DISTINCT key
    * counts (sizes the filters — a multi-row-per-key table like a
    * postings store would otherwise oversize every filter by its
    * rows-per-key factor), then a build clustered by (bucket, bounded
    * key salt): each bucket's filter is allocated at its counted size
    * by every task that sees it and the driver receives ≤ salt ×
    * |buckets| filters of known total bytes. The first cut built
    * partition-locally with full-size filters and merged driver-side —
    * |partitions| × |buckets| × filter-size task results, UNBOUNDED,
    * which broke spark.driver.maxResultSize the first time a
    * token-scale store (27M postings) was written; the salted
    * exchange is delta-sized, write-path-only, and its reduce cost is
    * explicitly budgeted before it runs. Returns the per-bucket key
    * counts, which the file index records for the fold rule. */
  private def writeBlooms(bucketed: DataFrame, dataDir: String): Map[Int, Long] = {
    val counts = bucketed.groupBy(BucketCol)
      .agg(approx_count_distinct(col(key)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (counts.isEmpty) return counts
    val bcCounts = spark.sparkContext.broadcast(counts)
    // Salt the build exchange when there are fewer buckets than cores:
    // clustering strictly by bucket serializes a 1-bucket store's
    // whole bloom build onto one task (measured at sf10: the
    // corpus-sized floor-1 layouts paid ~25% of build wall-time here).
    // Each salted task allocates a full-size filter per bucket it
    // sees, so the transient reduce cost is salt × filter bytes —
    // bounded BY CONSTRUCTION two ways: salt ≤ cores/buckets (no more
    // tasks than cores), and salt ≤ 256 MB / largest filter (the
    // counts are already collected, so the largest filter size is
    // known before choosing). buckets ≥ cores ⇒ salt = 1 ⇒ exactly
    // the old clustered build.
    val maxFilterBytes = math.max(64L, counts.values.max) * 18L / 10L // ~1.8 B/key at fpp 1e-3
    val salt = math.max(1, math.min(
      spark.sparkContext.defaultParallelism / math.max(1, counts.size),
      ((256L << 20) / math.max(1L, maxFilterBytes)).toInt))
    // the salt must be DECORRELATED from the bucket: BucketCol is
    // pmod(hash(key), buckets), so salting with the same hash yields
    // only lcm(buckets, salt) distinct groups whenever the two share a
    // factor (typical: both powers of two) — xxhash64 is an
    // independent hash family, so (bucket, salt) really fans out to
    // buckets × salt tasks
    val partial = bucketed.select(col(BucketCol), col(key))
      .repartition(col(BucketCol), pmod(xxhash64(col(key)), lit(salt)))
      .rdd.mapPartitions { it =>
        val m = scala.collection.mutable.Map.empty[Int, BloomFilter]
        it.foreach { r =>
          if (!r.isNullAt(1)) {
            val b = r.getInt(0)
            // fpp 0.1%, not the usual 1%: a k-key delta false-positives
            // a bucket into a mask or the key scan with probability
            // ≈ 1-(1-fpp)^(k/buckets) — at 1% a few-thousand-key delta
            // re-scans half its buckets; at 0.1% it clears >90% for
            // ~1.5× the (tiny) sidecar bytes. The ~5% ACD sizing error
            // only nudges the realized fpp, and the sidecar is advisory.
            m.getOrElseUpdate(b,
              BloomFilter.create(math.max(bcCounts.value.getOrElse(b, 64L), 64L), BloomFpp))
              .put(r.get(1))
          }
        }
        Iterator(m.toMap)
      }
    // same-bucket partials from salted tasks merge via mergeInPlace —
    // sound because every task sizes bucket b's filter from the SAME
    // broadcast count (mergeInPlace requires equal-sized filters);
    // unsalted buckets are disjoint and union untouched
    val blooms = partial.reduce { (a, b) =>
      val m = scala.collection.mutable.Map.empty[Int, BloomFilter] ++= a
      b.foreach { case (k2, bf) =>
        m.get(k2) match {
          case Some(e) => e.mergeInPlace(bf)
          case None => m(k2) = bf
        }
      }
      m.toMap
    }
    saveBlooms(dataDir, blooms)
    counts
  }

  private def saveBlooms(dataDir: String, blooms: Map[Int, BloomFilter]): Unit = {
    val out = new java.io.DataOutputStream(
      fs.create(new Path(s"$path/$dataDir/$BloomFile"), true))
    try {
      out.writeInt(blooms.size)
      blooms.toSeq.sortBy(_._1).foreach { case (b, bf) =>
        // length-framed: BloomFilter.readFrom consumes the WHOLE
        // remaining stream, so naive concatenation breaks on read
        val bytes = new java.io.ByteArrayOutputStream()
        bf.writeTo(bytes)
        out.writeInt(b); out.writeInt(bytes.size()); bytes.writeTo(out)
      }
    } finally out.close()
  }

  /** The per-bucket blooms of one data generation; None = no/corrupt
    * sidecar (callers must treat every key as a possible hit). */
  private def loadBlooms(dataDir: String): Option[Map[Int, BloomFilter]] = {
    val p = new Path(s"$path/$dataDir/$BloomFile")
    try {
      val in = new java.io.DataInputStream(fs.open(p))
      try {
        val n = in.readInt()
        Some((0 until n).map { _ =>
          val b = in.readInt()
          val len = in.readInt()
          val bytes = new Array[Byte](len)
          in.readFully(bytes)
          b -> BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
        }.toMap)
      } finally in.close()
    } catch { case NonFatal(_) => None }
  }

  /** Probe telemetry of the last upsert or delete: (buckets the blooms
    * could not clear — masked, key-scanned or folded — and buckets
    * bloom-cleared). Spec/monitoring surface. */
  private[graft] var lastProbeStats: (Int, Int) = (0, 0)

  /** Test hook: false sends every bucket the blooms cannot clear through
    * the fold (key probe plus copy-on-write), the reference that
    * merge-on-read specs compare against. */
  private[sources] var maskDeltas: Boolean = true

  /** ONE bounded collect of the distinct (bucket, key) pairs, tested
    * against the sidecar blooms. A bucket is cleared when no live
    * generation of it might hold any of its delta keys; a generation
    * without a readable bloom might hold every key. Null keys never
    * match a stored row (upsert and delete join on the key), so they
    * never block clearing. A delta past [[ProbeKeyBound]] keys collects
    * its buckets alone and clears nothing. */
  private def probe(incoming: DataFrame, mapping: Map[Int, Seq[String]]): Probe = {
    val pairs = incoming.select(col(BucketCol), col(key)).distinct()
      .limit(ProbeKeyBound + 1).collect()
    if (pairs.length > ProbeKeyBound) {
      val touched = incoming.select(BucketCol).distinct().collect().map(_.getInt(0)).toSet
      return Probe(touched, None, touched.map(_ -> Seq.empty[Any]).toMap)
    }
    val keysByBucket = pairs.groupBy(_.getInt(0))
      .map { case (b, rs) => b -> rs.toSeq.map(r => if (r.isNullAt(1)) null else r.get(1)) }
    val bloomCache = scala.collection.mutable.Map.empty[String, Option[Map[Int, BloomFilter]]]
    def bloomsOf(dir: String) = bloomCache.getOrElseUpdate(dir, loadBlooms(dir))
    val hits = keysByBucket.flatMap { case (b, ks) =>
      val filters = mapping.getOrElse(b, Nil).map(generationDir).distinct
        .map(d => bloomsOf(d).map(_.get(b)))
      val maybe = ks.filter(k => k != null && filters.exists {
        case None => true // unknown generation: may hold anything
        case Some(None) => false // generation holds no rows of this bucket
        case Some(Some(bf)) => bf.mightContain(k)
      })
      if (maybe.isEmpty) None else Some(b -> maybe)
    }
    Probe(keysByBucket.keySet, Some(keysByBucket), hits)
  }

  /** The fold rule: which bloom-hit buckets take a masked append, each
    * with its mask (the generations the bucket holds files of, and its
    * keys the blooms might hold). Every other bloom-hit bucket folds. A
    * bucket folds when it already carries a live mask — so a bucket has
    * at most one, and its live key count is the sum of its generations'
    * recorded counts — when the delta holds ≥ 1/[[FoldShare]] of those
    * keys — a generation without recorded counts counts as none — or
    * when it would pass [[MaxFilesPerBucket]] files. Deltas past
    * [[ProbeKeyBound]] keys, and keys of a type a mask cannot persist,
    * always fold. */
  private def maskPlan(m: Manifest, p: Probe, keyType: DataType): Map[Int, MaskEntry] = {
    val keys = p.keys match {
      case Some(k) if maskDeltas && maskable(keyType) && p.hits.nonEmpty => k
      case _ => return Map.empty
    }
    val masked = maskedBuckets(m)
    val gens = generations(p.hits.keys.toSeq.flatMap(m.mapping.getOrElse(_, Nil)))
    p.hits.flatMap { case (b, hit) =>
      val files = m.mapping.getOrElse(b, Nil)
      val dirs = files.map(generationDir).distinct
      val fold = masked(b) ||
        keys(b).size.toLong * FoldShare >= dirs.map(gens(_).keyCounts.getOrElse(b, 0L)).sum ||
        files.size >= MaxFilesPerBucket
      if (fold) None else Some(b -> MaskEntry(dirs, hit))
    }
  }

  /** Buckets among `scanned` holding a row whose key is in `probe` —
    * the key-column-only collision scan. */
  private def collisions(m: Manifest, scanned: Seq[Int], probe: DataFrame, bc: Int): Set[Int] =
    readKeys(scanned.flatMap(m.mapping.getOrElse(_, Nil))).fold(Set.empty[Int]) { existing =>
      withBucket(existing, bc).join(probe, Seq(key), "left_semi")
        .select(BucketCol).distinct().collect().map(_.getInt(0)).toSet
    }

  /** Buckets of `m` that a live mask applies to. */
  private def maskedBuckets(m: Manifest): Set[Int] =
    liveMasks(m.files, m.masking).map(_._1).toSet

  // ---- public API ----

  def exists: Boolean = latestManifest().isDefined

  /** Bucket count the last commit recorded — the layout truth every
    * reader resolves against (the constructor's `buckets` only lays out
    * a store with no manifest yet, or an [[overwrite]]). */
  def bucketCount: Option[Int] = latestRaw().flatMap(_.recordedBuckets)

  /** Data files the newest manifest references — the number every
    * reader must open. Monitoring / compaction-trigger input. */
  def liveFileCount: Int =
    latestManifest().map(_._2.values.map(_.size).sum).getOrElse(0)

  /** The snapshot at the newest committed version. The plan pins the
    * version's file list, so later upserts don't disturb it. */
  def read(): Option[DataFrame] =
    latestRaw().flatMap(m => readFiles(m.files, m.masking))

  /** The newest committed version's store-relative file list. */
  private[graft] def liveFiles: Seq[String] =
    latestRaw().map(_.files).getOrElse(Nil)

  /** The newest version's generation token, live files and masking
    * generations from ONE manifest read, and a read of a subset of one
    * view's files — the pair a FILE-GRAINED warm cache
    * ([[LayeredFileCache]]) needs: after a mask-free append (fresh keys
    * append files, nothing rewrites or masks), the new live set is a
    * superset of the cached one and the cache reads ONLY the delta
    * files instead of rebuilding from the whole store. The subset read
    * applies the view's masks among its files, so the file list and the
    * masks always come from one version. Callers must take file names
    * from the view — names from an older manifest risk reading
    * vacuumed paths. */
  private[sources] def liveView: Option[SnapshotStore.LiveView] =
    latestRaw().map(m => SnapshotStore.LiveView(m.token, m.files, m.masking))

  private[sources] def readFileSubset(view: SnapshotStore.LiveView,
                                      files: Seq[String]): Option[DataFrame] =
    readFiles(files, view.masking)

  /** Pruned read by partition value: only the live files whose layout
    * path carries one of `values` for the partition column. Files from
    * generations written WITHOUT the partition layout carry no
    * `snap_part=` segment and are conservatively included (they may
    * hold any value). This is the serve-path primitive: a probe that
    * touches nProbe of nCells reads nProbe/nCells of the store, not
    * all of it. */
  def readPartitions(values: Seq[Any]): Option[DataFrame] =
    latestRaw().flatMap(m => readFiles(filesForPartitions(values, m.files), m.masking))

  /** The file list [[readPartitions]] would open — exposed so specs
    * (and monitoring) can pin scan-pruning ratios. */
  private[graft] def filesForPartitions(values: Seq[Any]): Seq[String] =
    filesForPartitions(values, liveFiles)

  private def filesForPartitions(values: Seq[Any], files: Seq[String]): Seq[String] = {
    val wanted = values.map(v => s"$PartDir=$v").toSet
    files.filter(_.split('/').find(_.startsWith(s"$PartDir=")).forall(wanted.contains))
  }

  /** Pruned keyed read: only the files of the buckets `probe`'s keys
    * hash into. Sound for any per-key lookup AND for anti-joins of
    * probe-vs-snapshot: a snapshot key outside the probed buckets
    * cannot equal any probe key (same hash, same modulus). At a
    * billions-row snapshot a k-key probe opens ≤min(k, buckets)
    * buckets instead of every live file. */
  def readForKeys(probe: DataFrame): Option[DataFrame] =
    latestRaw().flatMap(m => readFiles(filesForKeys(probe, m), m.masking))

  /** Both prunes at once: only the files whose bucket one of `probe`'s
    * keys hashes into AND whose partition value is in `values` — the
    * shortlist-re-rank read shape (candidate ids × probed cells),
    * where either prune alone still opens most of a big store. Sound
    * for per-key lookups whose rows are KNOWN to lie in `values`
    * partitions (the caller's contract — a key whose row lives in an
    * unlisted partition is simply not returned). */
  def readForKeysAndPartitions(probe: DataFrame, values: Seq[Any]): Option[DataFrame] =
    latestRaw().flatMap(m =>
      readFiles(filesForPartitions(values, filesForKeys(probe, m)), m.masking))

  private[graft] def filesForKeys(probe: DataFrame): Seq[String] =
    latestRaw().map(filesForKeys(probe, _)).getOrElse(Nil)

  /** The files of the buckets `probe`'s keys hash into. In a one-bucket
    * store every key hashes to bucket 0, so its files are the answer
    * without the distinct-bucket job — an empty probe then yields them
    * too, where a multi-bucket store yields none; either way the probe
    * matches no row. */
  private def filesForKeys(probe: DataFrame, m: Manifest): Seq[String] = {
    val bc = recordedBuckets(m)
    val touched =
      if (bc == 1) Set(0)
      else withBucket(probe.select(key).distinct(), bc)
        .select(BucketCol).distinct().collect().map(_.getInt(0)).toSet
    touched.toSeq.sorted.flatMap(m.mapping.getOrElse(_, Nil))
  }

  /** Identity token of the latest committed generation: the manifest
    * version PLUS a hash of the live file list. The bare version
    * number is NOT an identity — a store deleted and rebuilt restarts
    * at version 1, so a cache keyed on it would serve the old
    * corpus's rows against the new one's queries — but data paths
    * embed per-write generation UUIDs, so the file-list hash changes
    * whenever the content can have. The cache-invalidation key for
    * warm readers ([[graft.similarity.PqIndex]] `warmRerank`). */
  private[graft] def latestToken: Option[(Long, Int)] = latestRaw().map(_.token)

  /** Committed versions currently on disk, oldest first (shrinks as
    * [[vacuum]] retires old manifests). */
  def versions(): Seq[Long] = {
    val root = new Path(path)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).map(_.getPath.getName)
      .filter(n => n.startsWith(ManifestPrefix) && n.endsWith(".txt"))
      .map(_.stripPrefix(ManifestPrefix).stripSuffix(".txt").toLong)
      .sorted.toSeq
  }

  /** Time travel: the snapshot as of a specific committed `version` —
    * free, because manifests are immutable and data files are never
    * rewritten (a version's file list and masks ARE the version).
    * Readable until [[vacuum]] retires the manifest; None if it
    * already has. The audit/debug answer ("what did the tags table
    * say before last night's merge?") the reference's destructive
    * MySQL UPSERT cannot give. */
  def readVersion(version: Long): Option[DataFrame] =
    if (!fs.exists(manifestPath(version))) None
    else {
      val m = readManifest(version)
      readFiles(m.files, m.masking)
    }

  /** Full overwrite: new data files + new manifest listing only them
    * (the whole layout is replaced, so the constructor's partition
    * column takes effect, and its bucket count — or, with none, the
    * count sized from `df`'s bytes). The data files are
    * version-independent (immutable, unique dir) and only the version
    * number races, so the data is written once and a conflict retries
    * the publish alone. */
  def overwrite(df: DataFrame): Unit = {
    val next = layOut(df)
    publish(_ => ((), Some(next)))
  }

  /** `df` written as a new layout, and the manifest that lists its files
    * alone (its version is the publish step's to number). */
  private def layOut(df: DataFrame): Manifest = {
    val estimate = estimatedBytes(df)
    val bc = layoutBuckets(estimate)
    Manifest(0L, Some(bc), partitionCol, writeData(withPart(withBucket(df, bc), partitionCol),
      partitionCol, bc, estimate.getOrElse(Long.MaxValue)), Set.empty)
  }

  /** UPSERT: rows in `df` replace snapshot rows with the same key; all
    * other snapshot rows are kept (mysql_writer UPSERT semantics). The
    * first write of an empty store lays it out as [[overwrite]] does.
    * Only the buckets the incoming keys hash into are touched; every
    * other bucket keeps its files verbatim. Per touched bucket, from one
    * bounded collect of the delta's (bucket, key) pairs tested against
    * the sidecar blooms:
    *
    *  - bloom-cleared (no stored key can collide): the bucket's rows
    *    are APPENDED, nothing is read or rewritten;
    *  - bloom-hit, small share: APPENDED with a mask that hides the
    *    older rows of the keys the blooms might hold (merge-on-read —
    *    see the class doc);
    *  - bloom-hit and the fold rule fires (large share of the bucket,
    *    too many files, a live mask already — see `maskPlan`): a
    *    key-column-only probe finds the buckets that really collide,
    *    and those go through the rewrite step with the delta's rows;
    *    the others append.
    *
    * All appends — fresh and masked rows — go out in one write job,
    * one file per bucket, with their blooms, key counts and masks built
    * on the driver from the collected pairs. Deltas past
    * [[ProbeKeyBound]] keys skip the blooms and masks and probe every
    * touched bucket. One manifest publish commits everything; a lost
    * publish re-runs the whole merge against the winner's state, so two
    * interleaved upserts both land, in some serial order. */
  def upsert(df: DataFrame): Unit = publish {
    case None => ((), Some(layOut(df)))
    case Some(m) => ((), Some(upserted(m, df)))
  }

  private def upserted(m: Manifest, df: DataFrame): Manifest = {
    // hash with the count the snapshot was WRITTEN with — a store opened
    // with a different constructor value must not re-bucket. Same for the
    // partition column: the RECORDED layout wins (an unpartitioned
    // snapshot may predate the column entirely); migrating the layout is
    // an explicit overwrite()/compact-cycle, never a silent per-upsert
    // drift.
    val bc = recordedBuckets(m)
    val pcol = m.recordedPcol
    val incoming = withPart(withBucket(df, bc), pcol)
    // The blooms clear most buckets of a fresh-keyed delta without
    // touching data at all, and masks absorb small replacements, so a
    // continuously maintained store's ingest stays O(delta): a delta
    // over a uniform hash touches EVERY bucket, and rewriting each
    // touched bucket cost ~the whole snapshot per batch (measured at
    // sf10: a 1% codes delta cost a 23 s full rewrite). Replays stay
    // safe by construction — a replayed batch's keys ARE present, so
    // they mask or fold, never duplicate.
    val p = probe(incoming, m.mapping)
    val masks = maskPlan(m, p, incoming.schema(key).dataType)
    lastProbeStats = (p.hits.size, p.cleared.size)
    val replaced = df.select(key).distinct()
    val colliding = collisions(m, (p.hits.keySet -- masks.keySet).toSeq.sorted, replaced, bc)
    val appending = p.touched -- colliding
    // appends land UNCLUSTERED (one file per bucket, no partition dirs):
    // clustering every micro-delta would write one tiny file per (bucket,
    // value) it touches — thousands per streaming batch (measured: a
    // 2k-vec add appended ~1200 files). Pruned reads conservatively
    // include unpartitioned files, so correctness is unchanged, and the
    // next compact() folds them into the clustered layout — the standard
    // ingest-then-recluster trade.
    val inserted =
      if (appending.isEmpty) Map.empty[Int, Seq[String]]
      else {
        val ins = if (colliding.isEmpty) incoming
          else incoming.filter(!col(BucketCol).isin(colliding.toSeq: _*))
        writeData(pcol.fold(ins)(_ => ins.drop(PartDir)), None, appending.size, 0L,
          p.keys.map(_.filter { case (b, _) => appending(b) }), masks)
      }
    val (merged, _) = rewrite(m, colliding, Some(replaced),
      Some(incoming.filter(col(BucketCol).isin(colliding.toSeq: _*))))
    val newMasking = if (masks.isEmpty) Set.empty[String]
      else inserted.values.flatten.map(generationDir).toSet
    // appended buckets keep their existing files AND gain the new ones
    m.copy(mapping = merged ++ inserted.map { case (b, fs0) => b -> (m.mapping.getOrElse(b, Nil) ++ fs0) },
      masking = m.masking ++ newMasking)
  }

  /** Keyed DELETE: remove every row whose key appears in `keys`; all
    * other rows are kept. The takedown/opt-out path a training-data
    * pipeline is required to have — upsert can replace a key but
    * nothing could make one vanish. Same bounded shape as [[upsert]]:
    * only the buckets the keys hash into are considered, the sidecar
    * blooms clear buckets that provably hold none of them (zero I/O),
    * the rest take a key-column-only scan, and only buckets that
    * actually contain a key go through the rewrite step — O(touched
    * buckets), not O(snapshot). A bucket whose every row is deleted
    * drops out of the manifest entirely. Deleting absent keys is a
    * no-op: no rewrite, NO new manifest version (idempotent replays
    * don't churn versions). Readers opened before the delete keep
    * their version's files (snapshot isolation — a takedown becomes
    * visible to NEW reads; [[vacuum]] is what makes the bytes
    * unrecoverable, so run it after legally-binding deletes).
    * Concurrent writers: the publish re-runs a lost delete against the
    * winner's state. Returns rows removed (rows, not keys — a
    * multi-row-per-key store like a postings table removes every row of
    * the key). */
  def delete(keys: DataFrame): Long = publish {
    case None => (0L, None)
    case Some(m) =>
      val bc = recordedBuckets(m)
      val doomed = keys.select(key).distinct()
      val p = probe(withBucket(doomed, bc), m.mapping)
      lastProbeStats = (p.hits.size, p.cleared.size)
      // buckets that actually hold a doomed key (key-column-only scan)
      val colliding = collisions(m, p.hits.keySet.toSeq.sorted, doomed, bc)
      if (colliding.isEmpty) (0L, None)
      else {
        val (mapping, removed) = rewrite(m, colliding, dropped = Some(doomed))
        (removed, Some(m.copy(mapping = mapping)))
      }
  }

  /** Rewrite every bucket whose live file list exceeds
    * `maxFilesPerBucket`, or that a live mask applies to, into one file
    * per (bucket, partition value) and publish a new manifest — the
    * small-file countermeasure for continuously maintained snapshots,
    * and the fold that retires masks. Each upsert appends or rewrites
    * a generation per touched bucket, so N batches leave O(N) live
    * files per hot bucket; every reader then pays that open/footer
    * (and mask) cost forever. Compaction is layout-only: rows are
    * untouched (the rewrite step with nothing dropped or added),
    * readers of older versions keep their pinned file lists (snapshot
    * isolation), and the superseded files become vacuum food. A
    * compaction never splits a bucket, however large. Returns the
    * number of buckets compacted; with nothing fat it publishes no
    * version.
    *
    * `maxBuckets` bounds one call's rewrite to the FATTEST that many
    * buckets — a billions-row store compacts incrementally (each call
    * is one bounded job + one manifest version) instead of rewriting
    * every over-split bucket in a single monolithic commit; repeat
    * until it returns 0.
    *
    * Concurrent-writer safety: compaction can lose the commit race to
    * an upsert/delete that landed between its read and its publish —
    * committing the stale mapping anyway would resurrect replaced rows.
    * The publish re-plans a lost compaction against the winner's
    * manifest, so both writers land, in some serial order. */
  def compact(maxFilesPerBucket: Int = 1, maxBuckets: Int = Int.MaxValue): Int = publish {
    case None => (0, None)
    case Some(m) =>
      val masked = maskedBuckets(m)
      // with a partition column the layout floor is one file per
      // (bucket, partition value), so the threshold applies per value —
      // judging the whole bucket would see every multi-value bucket as
      // permanently fat and rewrite the store on every compaction.
      // Files WITHOUT a partition segment (unclustered appends) always
      // mark their bucket fat: they evade partition pruning until
      // compaction folds them into the clustered layout. So does a
      // live mask: every read of the bucket pays for it until a fold
      val fat = m.mapping.filter { case (b, files) =>
        if (masked(b)) true
        else if (m.recordedPcol.isEmpty) files.size > maxFilesPerBucket
        else {
          val groups = files.groupBy(
            _.split('/').find(_.startsWith(s"$PartDir=")).getOrElse(""))
          groups.contains("") || groups.values.exists(_.size > maxFilesPerBucket)
        }
      }.toSeq.sortBy { case (b, files) => (-files.size, b) }
        .take(maxBuckets).map(_._1).toSet
      if (fat.isEmpty) (0, None)
      else (fat.size, Some(m.copy(mapping = rewrite(m, fat, split = false)._1)))
  }

  /** Delete data files no manifest version references, manifests
    * older than the newest `keepVersions`, and the temp manifests of
    * failed commits (every [[SmallFile.TmpPrefix]] name, which covers
    * the `.tmp-manifest-` temps of stores written before the commit
    * went through [[SmallFile]]). `minAgeMs` is the retention grace:
    * files younger than it are NEVER deleted, because an in-flight
    * writer may have produced them but not yet committed its manifest
    * (the same reason every lakehouse vacuum has a retention window).
    * Run out-of-band.
    * Returns the number of data files deleted. */
  def vacuum(keepVersions: Int = 1, minAgeMs: Long = 3600L * 1000L): Long =
    versions().lastOption match {
    case None => 0L
    case Some(latest) =>
      val keep = versions().filter(_ > latest - keepVersions).toSet
      val live = keep.flatMap(v => readManifest(v).files)
      val cutoff = System.currentTimeMillis() - minAgeMs
      var deleted = 0L
      for (entry <- fs.listStatus(new Path(path))) {
        val name = entry.getPath.getName
        if (entry.isDirectory && name.startsWith("data-")) {
          for (f <- parquetFilesUnder(entry.getPath)) {
            if (!live.contains(relative(f)) && f.getModificationTime < cutoff) {
              fs.delete(f.getPath, false); deleted += 1
            }
          }
          // a generation with no live data left takes its bloom, file-
          // index and mask sidecars with it (same age gate as the data
          // files)
          if (!live.exists(_.startsWith(name + "/"))) for (sidecar <- Seq(BloomFile, FilesFile, MaskFile)) {
            val p = new Path(entry.getPath, sidecar)
            if (fs.exists(p) && fs.getFileStatus(p).getModificationTime < cutoff) fs.delete(p, false)
          }
        } else if (entry.getModificationTime < cutoff && (name.startsWith(SmallFile.TmpPrefix) ||
          name.startsWith(ManifestPrefix) &&
            !keep.contains(name.stripPrefix(ManifestPrefix).stripSuffix(".txt").toLong))) {
          // a temp manifest this old is a commit that failed or crashed
          fs.delete(entry.getPath, false)
        }
      }
      deleted
  }

  /** Post-write validation (optimized_mysql_writer.py:180-220): every
    * key written must be present in the snapshot. Pruned: only the
    * written keys' buckets are read, key column only (a masked key is
    * always present in the generation that masks it, so no mask is
    * needed). Returns the number of missing keys (0 = good). */
  def validateWrite(written: DataFrame): Long = {
    val probe = written.select(key).distinct()
    latestRaw().flatMap(m => readKeys(filesForKeys(probe, m))) match {
      case None => probe.count()
      case Some(snap) => probe.join(snap, Seq(key), "left_anti").count()
    }
  }

  /** Distinct keys currently in the snapshot (used by incremental-user
    * detection, scenario_scheduler.py:514-531). */
  def keys(): DataFrame =
    latestRaw().flatMap(m => readKeys(m.files)).map(_.distinct()).getOrElse(emptyKeys())

  /** Distinct snapshot keys RESTRICTED to the buckets `probe`'s keys
    * hash into — the right-hand side for "which probe keys are new?"
    * anti-joins (incremental-user detection at scale): snapshot keys
    * in other buckets can't match any probe key, so the anti-join
    * result is identical while the scan is O(probed buckets). */
  def keysFor(probe: DataFrame): DataFrame =
    latestRaw().flatMap(m => readKeys(filesForKeys(probe, m))).map(_.distinct())
      .getOrElse(emptyKeys())

  private def emptyKeys(): DataFrame = {
    import spark.implicits._
    Seq.empty[Long].toDF(key)
  }
}

object SnapshotStore {
  private val BloomFpp = 0.001

  /** The fixed bucket count every store had before counts were sized by
    * bytes: the count of a manifest recorded without `#buckets=`, and of
    * a frame Spark cannot size. */
  val LegacyBuckets = 32

  /** One committed version: its recorded layout, bucket → live files,
    * and the generations among them whose masks hide older rows. */
  private final case class Manifest(version: Long, recordedBuckets: Option[Int],
                                    recordedPcol: Option[String],
                                    mapping: Map[Int, Seq[String]],
                                    masking: Set[String]) {
    def files: Seq[String] = mapping.toSeq.sortBy(_._1).flatMap(_._2)
    def token: (Long, Int) =
      (version, scala.util.hashing.MurmurHash3.orderedHash(files.sorted))
  }

  /** The manifest publish lost to a concurrent writer's commit of the
    * same version; writers retry it against the winner's state. */
  final class CommitConflict(message: String) extends java.io.IOException(message)

  /** One generation's file index. `keyCounts` is its distinct keys per
    * bucket — the fold rule's input; empty for a generation without
    * recorded counts. */
  private final case class Generation(schema: StructType, files: Map[String, (Long, Long)],
                                      keyCounts: Map[Int, Long])

  /** One bucket's mask: the generations it hides rows in, and the keys. */
  private final case class MaskEntry(gens: Seq[String], keys: Seq[Any])

  /** A delta's touched buckets; its distinct keys per bucket when at
    * most the store's probe bound (None past it); and `hits`, the buckets the
    * blooms cannot clear, each with the non-null keys some live
    * generation of the bucket might hold. */
  private final case class Probe(touched: Set[Int], keys: Option[Map[Int, Seq[Any]]],
                                 hits: Map[Int, Seq[Any]]) {
    def cleared: Set[Int] = touched -- hits.keySet
  }

  /** One committed version as a warm cache sees it: its generation
    * token, live files, and the generations whose masks hide rows of
    * older files. */
  private[sources] final case class LiveView(token: (Long, Int), files: Seq[String],
                                             masking: Set[String]) {
    def masks(file: String): Boolean = masking(file.takeWhile(_ != '/'))
  }

  /** Bucket-count guideline: the layout floor is one file per
    * (bucket, partition), so the only reason to raise buckets above 1
    * is per-partition data outgrowing the target file size — buckets ≈
    * bytes / (partitions × target). The floor really is 1: any fixed
    * bucket floor multiplies the partition count into a small-file
    * explosion exactly when partitions are corpus-sized, and in an
    * unpartitioned store it writes that many files however small the
    * data. Fewer buckets mean coarser key-probe pruning and
    * copy-on-write — acceptable because bytes per bucket is bounded by
    * construction (it only shrinks as the corpus grows buckets).
    * Unpartitioned stores pass `partitions = 1` and the scan split
    * size as the target. Cap 4096 bounds driver-side manifest/bloom
    * bookkeeping. */
  def suggestBuckets(totalBytes: Long, partitions: Int,
                     targetFileBytes: Long = 64L << 20): Int = {
    val ideal = math.ceil(totalBytes.toDouble /
      (math.max(1, partitions).toDouble * targetFileBytes)).toLong
    math.max(1L, math.min(ideal, 4096L)).toInt
  }
}
