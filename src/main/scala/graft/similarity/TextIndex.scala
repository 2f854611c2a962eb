package graft.similarity

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.{wordsLower, wordCountLower}

/** Persistent inverted index: the lexical twin of [[PqIndex]] — BM25
  * serving over a term-partitioned postings store.
  *
  * Layout under `dir`:
  *  - `postings/` — a [[graft.sources.SnapshotStore]] KEYED by
  *    `doc_id` (the CDC identity: re-sending a document replaces ALL
  *    its postings in one upsert, because the store's key-replace
  *    semantics drop every row of that key) and PARTITIONED by
  *    `tpart = hash(word) % termParts`, so a query batch reads only
  *    its terms' partitions — |query terms|/termParts of the store,
  *    never a full posting scan. Row = (doc_id, word, tf, dl, tpart);
  *    a document with no tokens writes one null-word tombstone row
  *    (explode_outer), so replacing a doc with empty text still
  *    clears its old postings and it still counts in N/avgdl.
  *  - `stats.txt` — corpus statistics (N, Σdl) and the frozen
  *    `termParts`: the hash layout is fixed at build time (like
  *    PqIndex's quantizers) — deltas and searches must agree on it,
  *    so the persisted value wins over the constructor's.
  *
  * Scoring goes through [[graft.queries.TextQueries.bm25Rank]] — the
  * SAME core as the ad-hoc `search_bm25` gate query, and
  * TextIndexSpec pins exact parity between the index-served and
  * ad-hoc paths after every lifecycle step (build, delta add,
  * replace, empty-text retraction). Stats are maintained with exact
  * long arithmetic across adds (replaced documents' dl read back
  * from a KEY-pruned probe of the store, not a scan), so parity is
  * bitwise, not approximate.
  *
  * Single-maintainer assumption on `stats.txt` (like PqIndex's
  * models.txt): concurrent `add`s serialize on the store's manifest
  * commit, but the sidecar write is last-wins — run maintenance from
  * one writer. */
/** `termParts` = 0 (the default) means SIZE FROM THE CORPUS at
  * [[build]] time via [[TextIndex.suggestTermParts]] — the same
  * fixed-knob hazard as PqIndex's cell count: 32 partitions over a
  * 100× larger corpus means every 1-term probe reads 100× more
  * postings. The persisted value stays the layout truth for every
  * later add/search (frozen in stats.txt, like the quantizers in
  * models.txt).
  *
  * Skew story (Zipf vocabularies): hash-partitioning by word cannot
  * split ONE hot term — the partition holding "the" carries an
  * outsized share of postings mass no matter how many partitions
  * exist. That skews per-partition FILE SIZE, not query cost: search
  * prunes to the query terms' partitions, so a rare-term query never
  * opens the stopword partition (TextIndexSpec pins this on a skewed
  * corpus), and a query that CONTAINS a stopword must read that
  * term's postings anyway — its cost is the term's document
  * frequency, wherever the rows live. The write-path mitigation is
  * partition count (suggestTermParts keeps the AVERAGE partition
  * bounded; the hot one is bounded by the term's true mass); the
  * query-path mitigation is the caller-set `stoplist` (scan-level:
  * the hot partition is never opened) and `maxDfFrac` (scoring-level)
  * knobs on [[search]] — deliberately never applied silently. */
/** `warmSearch` = true keeps the postings frame cached
  * (MEMORY_AND_DISK) across [[search]] calls WITHIN this process —
  * the serving-loop form (r13's PqIndex `warmRerank`, applied to the
  * lexical side per r13 VERDICT #2: cold search re-reads its probed
  * postings partitions from disk every query batch, and
  * `hybridRrfServed` pays that per call). The same two warm-cache
  * disciplines the vector side learned the hard way:
  *  - the cache is keyed on the store's GENERATION TOKEN (manifest
  *    version + live-file-list hash — `SnapshotStore.latestToken`),
  *    never the bare version: a store deleted and rebuilt out-of-band
  *    restarts at v1, and a version-keyed cache would silently serve
  *    the OLD corpus's postings. A CDC add/delete/compact commits a
  *    new manifest → next search re-validates. One manifest read per
  *    query batch is the freshness price. Invalidation is
  *    FILE-GRAINED (r15): an append-only add (the store's insert fast
  *    path — fresh keys append files, nothing rewrites) caches just
  *    the delta files as a new layer; anything that retires a file
  *    rebuilds the whole cache, the only sound response.
  *  - the warm path reproduces the cold path's row-eligibility rule
  *    explicitly: cold = (row's tpart ∈ probed partitions) AND (word
  *    ∈ query vocabulary); warm applies the same tpart prune as a
  *    filter — skipped only when the probe covers at least half the
  *    layout, where cold opens (ab initio) every partition too and
  *    the InSet is pure overhead (the r13 measured lesson).
  * Corpus stats (N, Σdl) stay sidecar reads either way, so warm and
  * cold scores are bitwise-identical — TextIndexSpec pins it. Opt-in
  * because a one-shot job caching a 100 TB corpus's postings is
  * waste; default false. */
class TextIndex(spark: SparkSession, dir: String,
                buckets: Int = 0, termParts: Int = 0,
                warmSearch: Boolean = false) {

  // buckets = 0 ⇒ sized at build with the generic partitioned-store
  // rule (postings bytes / (termParts × 64 MiB target), floor 1 — the
  // file floor is buckets × termParts, see SnapshotStore.suggestBuckets).
  // The constructor-level store passes the explicit count through
  // (0 = the store sizes it by bytes); it only lays out a store with
  // no manifest, which never happens here — build lays out its own
  // store, and post-build ops resolve recordedBuckets.
  private def storeWith(bucketCount: Int) = new graft.sources.SnapshotStore(
    spark, s"$dir/postings", key = "doc_id",
    buckets = bucketCount, partitionCol = Some("tpart"))
  private val store = storeWith(buckets)
  private val statsPath = new Path(s"$dir/stats.txt")
  private val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- warm-serving postings cache (see the class scaladoc) ----
  // FILE-GRAINED since r15 (r14 VERDICT #3) — the layering mechanism
  // (append-only adds cache only the delta files; any retired file
  // rebuilds; capped layers consolidate) lives in LayeredFileCache,
  // shared with PqIndex's warm SQ8 sidecar cache.
  //
  // The cache LAYOUT here is the win: a bare persist loses to the
  // cold path (measured r14 at 5M docs — cold's term-pruned parquet
  // read beats a full in-memory scan whenever the OS page cache is
  // warm). RANGE-partitioning by tpart and sorting by (tpart, word)
  // inside gives every cached batch tight min/max stats on BOTH
  // filter columns, so InMemoryTableScan's batch pruning (in-memory
  // partition pruning, on by default) skips non-probed tparts and
  // non-query words without scanning them — the in-memory twin of the
  // cold path's file prune. Range (not hash) partitioning because
  // hash(tpart) % parts collides distinct tparts into one cached
  // partition while leaving others empty; ranges keep each partition
  // a CONTIGUOUS tpart span, which is what the min/max prune needs.
  // Delta layers are small — they take min(parts, #files) partitions
  // so a 5k-doc layer doesn't fan into hundreds of near-empty tasks.
  // ONE layout body for both cache paths: a layer built from files
  // and a capped LSM merge of two cached layers (delta-sized — the
  // base layer is never re-read under pure appends) must agree on
  // partitioning/sort/persist or the min/max prune degrades silently.
  private def warmLayout(rows: DataFrame, nFiles: Int): DataFrame =
    rows.repartitionByRange(
        math.max(1, math.min(loadStats()._3, nFiles)), col("tpart"))
      .sortWithinPartitions("tpart", "word")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  private val warmCache = new graft.sources.LayeredFileCache(store)({ (rows, nFiles) =>
    warmLayout(rows.select("doc_id", "word", "tf", "dl", "tpart"), nFiles)
  })(warmLayout)
  private[graft] def warmLayerCount: Int = warmCache.layerCount
  private def warmPostingsFrame(): Option[DataFrame] = warmCache.frame()
  /** Drop the warm postings cache (the next warm search re-reads and
    * re-caches) — e.g. before handing the index to another process. */
  def releaseWarmCache(): Unit = warmCache.release()
  /** The postings store's generation token — what the serve loop logs
    * so an operator can see WHICH index generation answered each batch
    * (and whether a batch paid a cold cache rebuild). */
  private[graft] def generationToken: Option[(Long, Int)] = store.latestToken

  /** Postings of a `(doc_id, text)` frame under `parts` hash layout.
    * One tokenize pass; `explode_outer` keeps token-less documents as
    * a single null-word tombstone row. */
  private def postings(docs: DataFrame, parts: Int): DataFrame =
    docs.select(col("doc_id"), wordsLower(col("text")).as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("double").as("dl"),
        explode_outer(col("ws")).as("word"))
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      .withColumn("tpart",
        coalesce(pmod(xxhash64(col("word")), lit(parts)), lit(0)))

  /** (n_docs, sum_dl) of a `(doc_id, text)` frame — exact longs. */
  private def measure(docs: DataFrame): (Long, Long) = {
    val r = docs.agg(count(lit(1)),
      coalesce(sum(wordCountLower(col("text")).cast("long")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Index `corpus` (`(doc_id, text)`) from scratch: postings +
    * stats, replacing any prior generation and freezing the term
    * layout. termParts = 0 resolves via [[TextIndex.suggestTermParts]]
    * from the corpus token mass — `measure` runs first either way, so
    * auto-sizing costs no extra pass. */
  def build(corpus: DataFrame): Unit = {
    val (n, sumDl) = measure(corpus)
    val parts =
      if (termParts > 0) termParts else TextIndex.suggestTermParts(sumDl)
    // saturate the byte estimate instead of overflowing (same guard as
    // PqIndex.suggestBuckets): an overflow would wrap negative and
    // silently pick 1 bucket for an extreme corpus
    val postingBytes =
      if (sumDl > Long.MaxValue / TextIndex.PostingBytes) Long.MaxValue
      else TextIndex.PostingBytes * sumDl
    val bkts = if (buckets > 0) buckets
      else graft.sources.SnapshotStore.suggestBuckets(postingBytes, parts)
    storeWith(bkts).overwrite(postings(corpus, parts))
    saveStats(n, sumDl, parts)
  }

  /** Upsert a document delta: new doc_ids append, re-sent doc_ids
    * replace all their postings. Corpus stats are adjusted exactly —
    * the replaced documents' old lengths come from a KEY-pruned read
    * of the touched buckets, O(delta), not a store scan. */
  def add(docs: DataFrame): Unit = {
    val (n0, sumDl0, parts) = loadStats()
    val keys = docs.select("doc_id")
    val replaced = store.readForKeys(keys) match {
      case None => (0L, 0L)
      case Some(near) =>
        val r = near.join(keys, Seq("doc_id"), "left_semi")
          .groupBy("doc_id").agg(max(col("dl")).as("dl"))
          .agg(count(lit(1)), coalesce(sum(col("dl").cast("long")), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
    }
    val (nDelta, sumDelta) = measure(docs)
    store.upsert(postings(docs, parts))
    saveStats(n0 + nDelta - replaced._1, sumDl0 + sumDelta - replaced._2, parts)
  }

  /** Keyed DELETE of whole documents: every posting row of the given
    * doc_ids is removed AND the corpus stats shrink by exactly those
    * documents' counts/lengths — the true takedown, distinct from the
    * empty-text RETRACTION (an [[add]] with "" keeps the doc counted
    * in N/avgdl as an empty member; delete un-counts it, so post-
    * delete scores bitwise-match a fresh build on the remaining
    * corpus — TextIndexSpec pins that parity). Same exact-long stats
    * arithmetic as [[add]]: the doomed docs' lengths come from a
    * KEY-pruned probe, O(delta). Returns posting rows removed. */
  def delete(docIds: DataFrame): Long = {
    val (n0, sumDl0, parts) = loadStats()
    val keys = docIds.select(col(docIds.columns.head).as("doc_id")).distinct()
    val doomed = store.readForKeys(keys) match {
      case None => (0L, 0L)
      case Some(near) =>
        val r = near.join(keys, Seq("doc_id"), "left_semi")
          .groupBy("doc_id").agg(max(col("dl")).as("dl"))
          .agg(count(lit(1)), coalesce(sum(col("dl").cast("long")), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
    }
    val removed = store.delete(keys)
    if (doomed._1 > 0) saveStats(n0 - doomed._1, sumDl0 - doomed._2, parts)
    removed
  }

  /** Top-`topK` BM25 results per query for a `(query_id, qtext)`
    * frame. Reads ONLY the query terms' partitions of the postings
    * store (the prune list is |query terms| hashes computed in one
    * bounded pass); document frequency is a window over the pruned
    * postings — sound because a term's postings live entirely in its
    * partition.
    *
    * The two stopword knobs PLANS.md's skew story calls for, both
    * CALLER-set and default-off (gate unchanged — dropping terms
    * changes ranks, so it is never silent):
    *  - `stoplist`: terms dropped from the query BEFORE the probe
    *    list is computed, so the hot term's partition is never opened
    *    and its postings never read — the SCAN-level cap. A query
    *    whose every term is stoplisted returns no rows for that
    *    query_id (nothing left to match), like a query of unknown
    *    terms.
    *  - `maxDfFrac`: the SCORING-level cap forwarded to
    *    [[graft.queries.TextQueries.bm25Rank]] — terms matching more
    *    than that corpus fraction are excluded from scores. This one
    *    still reads the term's postings (df is only known after the
    *    read), but the read is the cheap part: the cap references
    *    only posting-side columns plus the 1-row stats frame, so
    *    Catalyst pushes it BELOW the query join and the hot term
    *    never row-multiplies against the query batch (measured at 5M
    *    docs, PLANS.md r11: an uncapped stopword-bearing batch walls
    *    at 420 s — ~430M scored rows — vs 5.1 s capped, within noise
    *    of the 3.8 s stoplist). Use the stoplist when the goal is
    *    strictly I/O; either knob defuses the blowup. */
  /** `allowed` (an optional `doc_id` frame) is the FILTERED-search
    * form — the policy/tenant restriction, symmetric with
    * [[PqIndex.topK]]'s allow-list. Semantics follow Lucene's
    * filtered queries: term statistics (df, n_docs, avgdl) stay
    * CORPUS-level — a doc's score is identical with or without the
    * filter, the filter only removes candidates — so scores remain
    * comparable across differently-filtered requests. The semi-join
    * applies after the probe prune and before ranking; an allowed doc
    * absent from the probed partitions simply cannot match (it shares
    * no query term). */
  /** `warnDfFrac` is the search-time DF GUARD (default 0.5; 0 = off):
    * when neither remedy knob is set, query terms whose document
    * frequency exceeds that corpus fraction get a loud per-term
    * warning NAMING BOTH KNOBS before the scoring join runs — the
    * r11 sf100 probe measured one unremarkable stopword-bearing query
    * walling at 420 s (~430M scored rows) with both remedies off, and
    * neither defaults on because dropping terms changes ranks. The
    * guard never changes results. Its cost is one extra job whose
    * scan is COLUMN-PRUNED to the word column of the probed
    * partitions (the groupBy references nothing else — a small
    * fraction of the postings bytes the scoring scan reads). The r13
    * review ADJUDICATED the r12-ADVICE alternatives and kept this
    * shape deliberately: sharing one scan via localCheckpoint either
    * eagerly materializes the hot postings list (storage pressure in
    * exactly the pathological case the guard protects) or, bounded to
    * small probes, accumulates un-unpersistable checkpoint blocks
    * across a serving loop's calls — a second stateless scan is the
    * cheapest SAFE form. warnDfFrac=0 opts the latency-critical serve
    * path out entirely. */
  def search(queries: DataFrame, topK: Int = 10,
             stoplist: Set[String] = Set.empty,
             maxDfFrac: Double = 0.0,
             allowed: Option[DataFrame] = None,
             warnDfFrac: Double = 0.5): DataFrame = {
    val (n, sumDl, parts) = loadStats()
    val qterms0 = queries.select(col("query_id"),
      explode(split(col("qtext"), " ")).as("word"))
    val qterms =
      if (stoplist.isEmpty) qterms0
      else qterms0.filter(!col("word").isInCollection(stoplist.toSeq))
    // bounded collect: the query batch's vocabulary, for the prune list
    val qwords = qterms.select(col("word"),
        pmod(xxhash64(col("word")), lit(parts)).as("tpart"))
      .distinct().collect()
    val probe = qwords.map(_.getLong(1)).distinct.toSeq
    val probed =
      if (!warmSearch) {
        // a probe whose partitions hold no files is an empty result,
        // not an error — the full read supplies the schema (plan only,
        // never executed), exactly as in PqIndex.codesTable
        val full = store.read().getOrElse(sys.error(s"no index built at $dir"))
        store.readPartitions(probe).getOrElse(full.limit(0))
      }
      else warmPostingsFrame() match {
        case None => sys.error(s"no index built at $dir")
        case Some(cached) =>
          // ONE row-eligibility rule, warm and cold (the r13 warm-SQ8
          // lesson): cold's file prune admits a row iff its tpart is
          // probed; warm replays that as a filter — except when the
          // probe covers >= half the layout, where it prunes nothing
          // cold wouldn't read either and the InSet is pure overhead
          if (probe.size * 2 < parts)
            cached.filter(col("tpart").isInCollection(probe))
          else cached
      }
    val matched = probed
      .filter(col("word").isInCollection(qwords.map(_.getString(0)).toSeq))
    val guardOn = stoplist.isEmpty && maxDfFrac == 0.0 && warnDfFrac > 0.0 && n > 0
    if (guardOn) {
      val floor = math.max(1L, (warnDfFrac * n).toLong)
      matched.groupBy("word").agg(count(lit(1)).as("qdf"))
        .filter(col("qdf") > lit(floor))
        .collect().foreach { r =>
          System.err.println(f"[graft] TextIndex.search WARNING: query term " +
            f"'${r.getString(0)}' matches ${r.getLong(1)} of $n docs " +
            f"(${r.getLong(1).toDouble / n}%.2f > warnDfFrac $warnDfFrac%.2f) — " +
            "scoring it joins that whole postings list against the query batch " +
            "(r11 measured 420 s at 5M docs); pass stoplist= to skip its " +
            "partition at scan level, or maxDfFrac= to cap scored terms " +
            "(warnDfFrac=0 silences this guard)")
        }
    }
    val pruned = matched
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("word"))))
    // df computed BEFORE the allow-list: corpus-level statistics by
    // contract (see scaladoc) — filtering first would silently change
    // every surviving doc's idf with the filter's selectivity
    val candidates = allowed match {
      case Some(a) =>
        pruned.join(a.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      case None => pruned
    }
    val stats = queries.sparkSession.range(1)
      .select(lit(n).as("n_docs"),
        (lit(sumDl.toDouble) / lit(n.toDouble)).as("avgdl"))
    graft.queries.TextQueries.bm25Rank(
      candidates.join(broadcast(qterms), Seq("word")), stats, topK, maxDfFrac)
  }

  /** Convenience: search a literal query list. */
  def search(querySet: Seq[(Int, String)], topK: Int): DataFrame = {
    import spark.implicits._
    search(querySet.toDF("query_id", "qtext"), topK)
  }

  /** Serve a streaming `(query_id, qtext)` frame: each micro-batch is
    * searched against the index as of that batch (concurrent adds
    * visible at the next batch) and handed to `sink`. `allowed` is a
    * per-micro-batch THUNK (the [[PqIndex.serveStream]] contract): a
    * DataFrame captured at stream start snapshots its parquet file
    * listing, so an overwritten policy table would never be re-seen —
    * the thunk re-resolves at every batch. */
  def serveStream(queries: DataFrame, topK: Int, sink: DataFrame => Unit,
                  checkpoint: String,
                  allowed: Option[() => DataFrame] = None): org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        if (!batch.isEmpty) sink(search(batch.toDF(), topK,
          allowed = allowed.map(a => a())))
      }
      .start()

  /** Maintain the index from a streaming `(doc_id, text)` frame:
    * at-least-once batches are idempotent (replays re-replace the
    * same keys). `compactEvery` (0 = off) bounds ingest-path file
    * growth exactly as in [[PqIndex.maintainStream]]. */
  def maintainStream(docs: DataFrame, checkpoint: String,
                     compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery = {
    var sinceCompact = 0
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        if (!batch.isEmpty) {
          add(batch.toDF())
          sinceCompact += 1
          if (compactEvery > 0 && sinceCompact >= compactEvery) {
            store.compact()
            sinceCompact = 0
          }
        }
      }
      .start()
  }

  /** Rewrite over-split postings buckets (see SnapshotStore.compact). */
  def compact(maxFilesPerBucket: Int = 1): Int = store.compact(maxFilesPerBucket)

  /** Reclaim superseded postings files + old manifests. */
  def vacuum(keepVersions: Int = 1, minAgeMs: Long = 3600L * 1000L): Long =
    store.vacuum(keepVersions, minAgeMs)

  /** Scan-prune accounting for specs/monitoring: files a probe of
    * these term partitions opens vs all live files. */
  private[graft] def scanFootprint(parts: Seq[Long]): (Int, Int) =
    (store.filesForPartitions(parts).size, store.liveFileCount)

  /** Operator-facing store report — the numbers a compact / vacuum /
    * re-build decision reads (`Main text-index-stats`). Everything is
    * sidecar + manifest metadata except the postings row count (one
    * column-pruned job). */
  def describe(): Seq[(String, String)] =
    if (!fs.exists(statsPath)) Seq("built" -> "false")
    else {
      val (n, sumDl, parts) = loadStats()
      Seq(
        "built" -> "true",
        "docs" -> n.toString,
        "total_tokens" -> sumDl.toString,
        "avg_doc_len" -> (if (n == 0) "0" else (sumDl.toDouble / n).toString),
        "term_parts" -> parts.toString,
        "postings_rows" -> store.read().map(_.count()).getOrElse(0L).toString,
        "live_files" -> store.liveFileCount.toString,
        "versions" -> store.versions().size.toString)
    }

  /** The frozen term-partition count (stats.txt is the layout truth). */
  private[graft] def frozenTermParts: Int = loadStats()._3

  /** Postings rows per term partition — the skew diagnostic a curator
    * checks before blaming slow queries on layout (a Zipf corpus WILL
    * show one heavy partition; that is file-size skew, not query-cost
    * skew — see the class doc). */
  private[graft] def partitionMass(): Map[Long, Long] =
    store.read().map(_.groupBy("tpart").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      .getOrElse(Map.empty)

  /** The partition ids a query string's terms probe. */
  private[graft] def probeParts(qtext: String): Seq[Long] = {
    val (_, _, parts) = loadStats()
    import spark.implicits._
    qtext.split(" ").toSeq.toDF("word")
      .select(pmod(xxhash64(col("word")), lit(parts)))
      .distinct().collect().map(_.getLong(0)).toSeq
  }

  private def saveStats(n: Long, sumDl: Long, parts: Int): Unit = {
    val tmp = new Path(s"$dir/.tmp-stats-${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, true)
    try out.write(s"n_docs=$n sum_dl=$sumDl term_parts=$parts\n"
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(statsPath)) fs.delete(statsPath, false)
    if (!fs.rename(tmp, statsPath))
      throw new java.io.IOException(s"stats publish failed for $statsPath")
  }

  private def loadStats(): (Long, Long, Int) = {
    require(fs.exists(statsPath), s"no index stats at $statsPath — build() first")
    val in = fs.open(statsPath)
    val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    val kv = text.trim.split(' ').map { s =>
      val Array(a, b) = s.split('='); a -> b.toLong
    }.toMap
    (kv("n_docs"), kv("sum_dl"), kv("term_parts").toInt)
  }
}

object TextIndex {
  /** Rough bytes per posting row for bucket sizing (doc_id + short
    * word + tf + dl + tpart, parquet-encoded). Paired with Σdl —
    * which over-counts rows because tf collapses repeats — the
    * estimate errs toward a few extra buckets, which costs file count
    * linearly and probe correctness nothing. */
  val PostingBytes = 16L

  /** Term-partition guideline from corpus token mass (Σdl — an upper
    * bound on postings rows that [[TextIndex#build]]'s stats pass
    * already computes, so sizing is free): one partition per ~1M
    * tokens keeps the average partition a few tens of MB — small
    * enough that a 1-term probe is cheap, large enough that the
    * buckets × termParts file floor stays sane. Floor 8 (pruning is
    * meaningless below that), cap 4096 (bounds the file floor and
    * driver-side partition bookkeeping; past the cap, per-partition
    * mass grows with the corpus again — at that scale raise `buckets`
    * too, which splits each partition's files further). sf10
    * cross-check: 35M tokens → 35 parts, the same order as the
    * hand-picked 64 the PLANS.md run used. */
  def suggestTermParts(totalTokens: Long, tokensPerPart: Long = 1000000L): Int =
    math.max(8L, math.min(
      math.ceil(totalTokens.toDouble / tokensPerPart).toLong, 4096L)).toInt
}
