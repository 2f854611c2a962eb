package graft.similarity

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}

/** Persistent IVF-PQ index: the serving shape of the ANN stack.
  *
  * Layout under `dir`:
  *  - `codes/` — a [[graft.sources.SnapshotStore]] keyed by
  *    `neighbor_id` holding `(neighbor_id, cell, codes, cn)`: 8 B of
  *    PQ codes + a cell id + a norm per vector, NOT the vectors. At
  *    100 TB of raw embeddings this is the ~32×-smaller table that
  *    actually gets scanned per query batch.
  *  - `models.txt` — the frozen quantizers (PQ codebooks + coarse
  *    centroids), a few KB of floats. Production semantics: models
  *    are fit ONCE at build time; corpus deltas are encoded under the
  *    frozen models ([[add]] — the manifest-commit upsert keeps
  *    readers snapshot-isolated), and a model refresh is an explicit
  *    [[build]] (re-encode), never a silent drift.
  *
  * Serving: [[topK]] for a batch of queries, [[serveStream]] for a
  * Structured Streaming query stream — each micro-batch searches the
  * index as of its own read (concurrent [[add]]s become visible at
  * the next batch).
  *
  * `opq = true` builds the full FAISS-style "OPQ,IVF,PQ" chain: a
  * learned orthogonal rotation ([[Pq.fitOpq]]) is applied to every
  * vector BEFORE coarse assignment and residual encoding, balancing
  * variance across PQ subspaces (the win shows on anisotropic
  * corpora — i.e. real embedding models). The rotation is part of the
  * frozen model set: persisted in `models.txt`, applied identically
  * to corpus deltas ([[add]]/[[maintainStream]]) and queries
  * ([[topK]]/[[serveStream]]); orthogonality means rotated cosines
  * ARE the original cosines, so the output contract is unchanged.
  */
/** `nCells`/`buckets` = 0 (the default) means SIZE FROM THE CORPUS at
  * [[build]] time: cells via [[Similarity.suggestNCells]] (~4√n,
  * sample-bounded — PLANS.md's sf10 run proved a FIXED cell count goes
  * quadratic as the corpus grows), buckets via [[PqIndex.suggestBuckets]]
  * (codes bytes / (cells × target file size) — the layout floor is one
  * file per (bucket, cell), so fixed buckets × growing corpus = either
  * giant files or a small-file explosion). Explicit values are honored
  * verbatim — cell count is part of the frozen model set, so overriding
  * it is a rebuild-scoped decision. After build, READS never consult
  * these knobs: the store manifest records the bucket layout and the
  * persisted coarse model records the cell count. */
/** `fitSampleN` bounds the coarse-quantizer training sample (0 = the
  * 20k default). It is the knob that lets the cell count keep up with
  * the corpus at extreme scale: auto cells = min(4√n, sample/40), so
  * the 20k default freezes cells at 500 — the right fit-cost trade up
  * to ~10M vectors, but a 1e11-vector deployment passes ~1M here to
  * get ~25k cells (probe fraction 0.03% instead of 1.6%; the k-means
  * fit is a one-off build cost). The suggest rules compose: 1e11 vecs
  * at sampleN=1M ⇒ 25k cells × 2 buckets ⇒ 50k files of ~64 MiB. */
/** `nProbe` = 0 (the default) means SIZE FROM THE FROZEN LAYOUT at
  * query time via [[Similarity.suggestNProbe]] — max(4, ~1/32 of the
  * recorded cell count). The one knob round 6 left fixed: cells scale
  * ~4√n, so a constant probe count silently shrinks the probed
  * FRACTION (and recall with it) as the corpus grows — the same
  * fixed-knob-falsified-at-scale pattern as fixed nCells, one knob
  * later. Resolved per search from the PERSISTED coarse model, never
  * stored: the probe budget is a serving decision, not part of the
  * frozen model set, so an operator can re-open the same index with an
  * explicit nProbe to trade recall for latency without a rebuild.
  * [[recallAt]] measures the realized recall against brute force. */
/** `sq8` = true adds the RE-RANK TIER at [[build]] time: an SQ8
  * sidecar store (`sq8/` — one signed byte per coordinate,
  * [[graft.functions.expr.Sq8Encode]]) written next to the codes,
  * cell-partitioned identically. It makes [[topKRerankIndexed]] —
  * the candMult recall dial — SELF-CONTAINED: a deployment that
  * ships only the index directory can re-rank its shortlists without
  * the raw 4 B/coord vector table (the r11 caveat). ~dim bytes/vec:
  * 4× smaller than raw, ~8× larger than the 8 B codes. The flag only
  * governs build; after that, PRESENCE ON DISK is the truth — [[add]],
  * [[maintainStream]], [[remove]], [[compact]] and [[vacuum]] keep an
  * existing sidecar in lockstep with the codes regardless of how this
  * handle was constructed (a handle opened without the flag must not
  * silently let the tier go stale). */
/** `warmRerank` = true turns on the WARM-SERVING read path for the
  * SQ8 tier: the sidecar frame is cached (Spark MEMORY_AND_DISK)
  * across [[topKRerankIndexed]] calls, keyed on the sidecar store's
  * committed manifest version — a long-lived serving process stops
  * paying the per-batch pruned sidecar READ that made the r12 SQ8
  * wall ~2× the exact-rerank wall (the candidates' bytes were re-read
  * from disk every batch while exact re-rank's caller table sat in
  * memory). A CDC [[add]]/[[remove]] commits a new manifest version,
  * which RE-VALIDATES the cache on the next call (the codes re-read
  * freshness rule, applied to a cache): served rows always reflect
  * the store as committed. Invalidation is FILE-GRAINED (r15, shared
  * [[graft.sources.LayeredFileCache]] mechanism): an append-only add
  * of fresh ids caches just the delta files as a new layer; anything
  * that retires a file (remove/compact/vacuum/rebuild) rebuilds the
  * whole cache. Off by default — caching a 1e9-vector
  * sidecar (~dim GB) into a one-shot batch job's memory would be
  * waste; turn it on in processes that serve many batches against
  * one index generation. */
class PqIndex(spark: SparkSession, dir: String,
              dim: Int = 64, m: Int = 8, k: Int = 16,
              nCells: Int = 0, nProbe: Int = 0, seed: Long = 42L,
              opq: Boolean = false, buckets: Int = 0,
              fitSampleN: Int = 0, sq8: Boolean = false,
              warmRerank: Boolean = false) {

  private val coarseFitN = if (fitSampleN > 0) fitSampleN else 20000

  // Codes are KEYED by neighbor_id (CDC upsert identity) but PROBED by
  // cell, so the store's layout is cell-partitioned under the key
  // buckets: a query batch reads only its probed cells' files —
  // nProbe/nCells of the codes, not all of them. At 100 TB raw (~3 TB
  // of codes, nProbe 8-32 of 4k-64k cells) that is the difference
  // between a full-table scan per micro-batch and <1% of it.
  //
  // The constructor-level store passes the explicit bucket count
  // through (0 = the store sizes it by bytes); it only lays out a store
  // with no manifest, which never happens here — [[build]] lays out
  // its own stores, and every later read/upsert resolves the recorded
  // layout.
  private def storeWith(bucketCount: Int) =
    new graft.sources.SnapshotStore(spark, s"$dir/codes", key = "neighbor_id",
      buckets = bucketCount, partitionCol = Some("cell"))
  private val store = storeWith(buckets)
  // the optional SQ8 re-rank sidecar: same key, same cell partitioning
  // (guaranteed by the shared encode pass — Pq.encodeIvfPqSq8), same
  // manifest-commit isolation. Post-build reads resolve the real
  // bucket layout from ITS OWN manifest, like the codes store.
  private def sqStoreWith(bucketCount: Int) =
    new graft.sources.SnapshotStore(spark, s"$dir/sq8", key = "neighbor_id",
      buckets = bucketCount, partitionCol = Some("cell"))
  private val sqStore = sqStoreWith(buckets)

  /** Whether the SQ8 re-rank tier exists on disk (a committed sidecar
    * manifest — presence is the truth, the constructor flag only
    * governs [[build]]). When true, [[topKRerankIndexed]] serves
    * without a caller-side vector table. */
  def hasRerankTier: Boolean = sqStore.exists

  // ---- warm-serving SQ8 cache (see the class scaladoc) ----
  // FILE-GRAINED since r15 (r14 VERDICT #3 flagged the sidecar cache's
  // whole-store invalidation alongside the lexical one): a CDC add of
  // fresh vector ids rides the store's insert fast path (files append,
  // nothing rewrites), so LayeredFileCache caches ONLY the delta
  // files as a new layer instead of re-reading the whole sidecar —
  // the serve pattern that interleaves adds with query batches stops
  // paying a full rebuild per batch. remove/compact/vacuum retire
  // files → full rebuild, the only sound response. The layer frames
  // keep the sidecar's own cell-clustered file layout (rows arrive
  // cell-partitioned from the scan), so InMemoryTableScan's min/max
  // batch pruning on `cell` keeps working per layer — no re-layout
  // needed here, unlike the lexical cache.
  private val sqWarmCache = new graft.sources.LayeredFileCache(sqStore)({ (rows, _) =>
    rows.select("neighbor_id", "cell", "sq")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  })(
    // capped LSM merges just persist the delta-sized union: the rows
    // arrive cell-clustered from their parent layers, so per-batch
    // min/max pruning on `cell` keeps working — no re-layout here,
    // same as the file path above
    (rows, _) => rows.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  private[graft] def warmLayerCount: Int = sqWarmCache.layerCount
  private def warmSqFrame(): Option[DataFrame] = sqWarmCache.frame()
  /** Drop the warm sidecar cache (e.g. before handing the index to
    * another process; the next warm call re-reads and re-caches). */
  def releaseWarmCache(): Unit = sqWarmCache.release()
  /** The codes store's generation token — what the serve loop logs so
    * an operator can see WHICH index generation answered each batch
    * (and whether a batch paid a cold cache rebuild). */
  private[graft] def generationToken: Option[(Long, Int)] = store.latestToken
  private val modelPath = new Path(s"$dir/models.txt")
  private val fs = modelPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** True iff a COMPLETE build committed: frozen models on disk AND a
    * committed codes manifest. `models.txt` is [[build]]'s LAST
    * artifact (staged during the encode, renamed live only after the
    * codes — and tier — commit), so a crashed build or rebuild is
    * simply not built: no crash point leaves models paired with a
    * different generation's codes, and a caller can never CDC-[[add]]
    * onto a store that never saw its seed corpus. */
  def isBuilt: Boolean = fs.exists(modelPath) && store.exists

  /** Fit quantizers on `corpus` (`(id, vec)`), persist them, and
    * (re-)encode the full corpus. With `opq` the rotation is learned
    * first and the coarse + residual quantizers are fit in the
    * ROTATED space (Pq.fitOpqIvfPq), so every later encode/search
    * must — and does — rotate through the same frozen matrix.
    *
    * `minRecall` > 0 turns on build-time layout validation: after the
    * encode, a bounded deterministic self-query sample (`recallQueries`
    * corpus vectors by hash(id) order — layout-independent, no count)
    * is searched through the index as built and compared to brute
    * force; measured recall@`recallTopK` below the floor FAILS THE
    * BUILD loudly, naming the resolved layout. This is what stops an
    * auto-sized build from silently shipping a bad layout (the
    * suggest rules are guidelines; this is the number that says
    * whether they hold on THIS corpus): a degenerate config — 1 cell
    * per 500 probes, collapsed quantizer — surfaces here, at build,
    * not as a production recall mystery. Cost: recallQueries × |corpus|
    * dot products for the ground truth — bound the sample, never the
    * corpus. The artifacts are already written when the check fails:
    * a failed build must be re-run (or re-validated) after fixing the
    * layout, which is the safe direction — serving from it was the
    * thing the floor exists to prevent. */
  /** `shareEncodePass` governs the sq8 build's one-encode-two-writes
    * optimization: true (default) materializes the encoded frame once
    * (localCheckpoint) and feeds both stores from it; false recomputes
    * the encode per store. The default is right when the encoded frame
    * (~36 B/vec + row overhead) fits local disk; at corpus scales
    * where it does not (a 500M-vector build's checkpoint + two write
    * shuffles overflowed a ~74 GB scratch budget, r15 measured), pass
    * false — the encode is deterministic under the frozen models, so
    * the stores stay in lockstep, and the price is one extra corpus
    * scan + codegen encode instead of a corpus-sized checkpoint. */
  def build(corpus: DataFrame, minRecall: Double = 0.0,
            recallQueries: Int = 64, recallTopK: Int = 10,
            shareEncodePass: Boolean = true): Unit = {
    // resolve the layout knobs: explicit values win; 0 = size from the
    // corpus (the count is one cheap agg next to the k-means fit +
    // full encode this method already pays for)
    val (cells, bkts) =
      if (nCells > 0 && buckets > 0) (nCells, buckets)
      else {
        val n = corpus.count()
        val c = if (nCells > 0) nCells
          else Similarity.suggestNCells(n, sampleN = coarseFitN)
        (c, if (buckets > 0) buckets else PqIndex.suggestBuckets(n, c))
      }
    val buildStore = storeWith(bkts)
    val (model, coarse, rot) =
      if (opq) {
        val composed = Pq.fitOpqIvfPq(corpus, dim, m, k, cells, seed = seed,
          coarseSampleN = coarseFitN)
        (composed.pq, composed.coarse, Some(composed.rotation))
      } else {
        val c = Similarity.ivfFit(corpus, cells, seed, sampleN = coarseFitN)
        (Pq.fitResidual(corpus, c, dim, m, k, seed = seed), c, None)
      }
    // TWO-PHASE rebuild commit. A build writes up to three artifacts
    // (models, codes, SQ8 tier); no multi-artifact sequence is atomic,
    // so on a REBUILD over a live index the ordering makes every crash
    // point land on a LOUDLY-unbuilt index, never a silently
    // mismatched generation pair (new models × old codes decode to
    // meaningless cosines with no error anywhere):
    //   stage models (tmp) → DELETE live models.txt (isBuilt flips
    //   false — the index is down for the swap; a fresh build was
    //   never up) → retire a stale tier-less sidecar inside the down
    //   window → overwrite codes (+ tier) → rename models live (the
    //   commit; one atomic metadata op).
    // Rebuild is an operator-scoped stop-the-world for THIS index:
    // CDC add/remove/serve compose concurrently, a model refresh does
    // not (the codes store is snapshot-isolated, but models.txt and
    // the sidecar directory are not versioned with it).
    val stagedModels = stageModels(model, coarse, rot)
    try {
      if (fs.exists(modelPath)) fs.delete(modelPath, false)
      if (!sq8 && sqStore.exists) fs.delete(new Path(s"$dir/sq8"), true)
      if (sq8 && shareEncodePass) {
        // one encode pass feeds both stores (the PQ encode is the
        // expensive column); both land before the models commit
        val enc = Pq.encodeIvfPqSq8(corpus, model, coarse, rot).localCheckpoint()
        try {
          buildStore.overwrite(enc.select("neighbor_id", "cell", "codes", "cn"))
          sqStoreWith(bkts).overwrite(enc.select("neighbor_id", "cell", "sq"))
        } finally enc.unpersist()
      } else if (sq8) {
        // scratch-bounded variant: no corpus-sized checkpoint — each
        // store re-runs the deterministic encode from the corpus scan
        def enc = Pq.encodeIvfPqSq8(corpus, model, coarse, rot)
        buildStore.overwrite(enc.select("neighbor_id", "cell", "codes", "cn"))
        sqStoreWith(bkts).overwrite(enc.select("neighbor_id", "cell", "sq"))
      } else
        buildStore.overwrite(Pq.encodeIvfPq(corpus, model, coarse, rot))
      commitModels(stagedModels)
    } catch {
      // a failed overwrite (or live-models delete) leaves the index
      // loudly unbuilt by design — but the staged tmp file has no
      // other owner and nothing else (vacuum covers only the stores)
      // would ever reclaim it, so sweep it on the way out
      case t: Throwable =>
        try fs.delete(stagedModels, false) catch { case _: java.io.IOException => () }
        throw t
    }
    if (minRecall > 0.0) {
      import org.apache.spark.sql.functions.{col, xxhash64}
      val sample = corpus.select(col("id"), col("vec"), xxhash64(col("id")).as("__h"))
        .orderBy("__h").limit(recallQueries).drop("__h")
      val r = recallAt(sample, corpus, recallTopK)
      if (r < minRecall) {
        val coarse = loadModels()._2
        sys.error(f"PqIndex build failed recall validation: recall@$recallTopK = " +
          f"$r%.3f < floor $minRecall%.3f on a $recallQueries-query self-sample " +
          s"(layout: ${coarse.nCells} cells, nProbe ${probeFor(coarse)}, m=$m k=$k" +
          s"${if (opq) ", opq" else ""}) — raise probe/cells/codebook or lower the floor")
      }
    }
  }

  /** Encode a corpus delta under the FROZEN models and upsert it —
    * new ids append, re-sent ids replace (CDC semantics). */
  def add(vectors: DataFrame): Unit = {
    val (model, coarse, rot) = loadModels()
    addEncoded(vectors, model, coarse, rot)
  }

  /** The one CDC-append body [[add]] and [[maintainStream]] share.
    * When the re-rank tier exists, BOTH stores get the delta from one
    * materialized encode pass, sidecar FIRST. Crash between the two
    * upserts: a BRAND-NEW id leaves an unreachable sidecar row (the
    * codes never reference it; the keyed replay overwrites it); a
    * RE-SENT id can briefly hold its new sidecar row against its old
    * codes row — [[topKRerankIndexed]]'s left-join + stage-1 fallback
    * keeps such a candidate in results (scored by its PQ cosine when
    * the sidecar row is cell-displaced), and the at-least-once CDC
    * contract heals the pair: replaying the interrupted add restores
    * lockstep. The opposite order would instead leave brand-new
    * SEARCHABLE codes without any re-rank row — the common case made
    * worse to soften the rare one. */
  private def addEncoded(vectors: DataFrame, model: Pq.Model,
                         coarse: Similarity.IvfModel,
                         rot: Option[Array[Float]]): Unit =
    if (hasRerankTier) {
      val enc = Pq.encodeIvfPqSq8(vectors, model, coarse, rot).localCheckpoint()
      try {
        sqStore.upsert(enc.select("neighbor_id", "cell", "sq"))
        store.upsert(enc.select("neighbor_id", "cell", "codes", "cn"))
      } finally enc.unpersist()
    } else store.upsert(Pq.encodeIvfPq(vectors, model, coarse, rot))

  /** Keyed DELETE — the CDC completeness [[add]] alone lacks: a
    * takedown/opt-out must make a vector UNSERVABLE, and upsert can
    * only replace it. `ids` is a 1-column frame of vector ids (first
    * column taken). O(touched buckets) through the store's bloom-
    * pruned delete; removed ids stop surfacing from [[topK]] and from
    * the NEXT [[serveStream]] micro-batch (each batch reads the
    * manifest as of itself). Snapshot-isolated readers pinned to an
    * older version still see the rows until [[vacuum]] reclaims them —
    * run vacuum after legally-binding removals. Returns ids removed
    * (codes hold one row per id). */
  def remove(ids: DataFrame): Long = {
    val idCol = ids.columns.head
    val keys = ids.select(org.apache.spark.sql.functions.col(idCol).as("neighbor_id"))
      .localCheckpoint() // two keyed deletes must see ONE key set
    // codes first: after the codes delete the id is unsearchable, so a
    // crash before the sidecar delete leaves only an unreachable SQ8
    // row (harmless; a replayed remove clears it) — sidecar-first
    // would leave a searchable id whose re-rank silently drops it
    val n = store.delete(keys)
    if (hasRerankTier) sqStore.delete(keys)
    n
  }

  /** Top-k for a query batch against the stored codes. Reads ONLY the
    * files of the cells this batch probes (one bounded pass over the
    * query side computes the prune list) — results are bit-identical
    * to an unpruned search because the search joins on `cell` anyway;
    * the prune just stops the scan from reading rows the join would
    * discard. PqIndexSpec pins both properties. */
  def topK(queries: DataFrame, topKn: Int): DataFrame = {
    val (model, coarse, rot) = loadModels()
    searchPlain(queries, topKn, model, coarse, rot)._1
  }

  /** The unfiltered search body, returning the probed-cell list next
    * to the result frame — [[topKRerankIndexed]] reuses the list to
    * cell-prune its sidecar read (every shortlist candidate's SQ8 row
    * lives in a probed cell by the shared-encode construction). */
  private def searchPlain(queries: DataFrame, topKn: Int,
                          model: Pq.Model, coarse: Similarity.IvfModel,
                          rot: Option[Array[Float]]): (DataFrame, Seq[Int]) = {
    val np = probeFor(coarse)
    val cells = Pq.probeCells(queries, model, coarse, np, rot)
    (Pq.searchCodes(queries, codesTable(cells), topKn, model, coarse, np, rot), cells)
  }

  /** FILTERED serve — the policy/tenant/date restriction every
    * production vector store needs next to takedown: candidates are
    * limited to `allowed` (an `id` frame). The filter is applied to
    * the codes table BEFORE any distance is scored (semi-join on
    * neighbor_id, cell-pruned scan first, AQE broadcasts a small
    * allow-list), so excluded vectors cost nothing and ranks are
    * computed WITHIN the filtered set — post-filtering the top-k
    * after scoring would instead return fewer than k (or leak
    * near-misses) under selective filters. Recall vs a brute-force
    * search of the filtered subset degrades only through cell
    * pruning, exactly as for the unfiltered search — and under an
    * AUTO probe budget (nProbe = 0) the budget self-adjusts to filter
    * SELECTIVITY: the layout-sized count is scaled by ~1/selectivity
    * (capped at every cell), because a filter keeping 1% of the
    * corpus leaves the probed cells holding ~1% of the usual
    * survivors — a fixed budget silently under-recalls exactly when
    * the filter is most selective. Both counts the estimate needs are
    * cheap next to the search (allow-list ids, codes row count — the
    * 32 B/row table, re-taken per call so a growing store keeps
    * scaling the budget). An EXPLICIT
    * nProbe stays verbatim: the serving operator overrode the
    * guideline, and a filter must not un-override it. */
  def topK(queries: DataFrame, topKn: Int, allowed: DataFrame): DataFrame = {
    val (model, coarse, rot) = loadModels()
    searchFiltered(queries, allowed, topKn, model, coarse, rot, codesCountNow())
  }

  /** The one filtered-search body both [[topK]] and [[serveStream]]
    * use — the scaladoc promise "stream filter semantics == batch
    * filter semantics" is enforced by sharing the code, not by
    * keeping two copies aligned by hand. The distinct id set feeds
    * the selectivity count AND the semi-join: checkpointed so the
    * dedup shuffle runs once, not once per consumer. */
  private def searchFiltered(queries: DataFrame, allowed: DataFrame, topKn: Int,
                             model: Pq.Model, coarse: Similarity.IvfModel,
                             rot: Option[Array[Float]],
                             totalCount: => Long): DataFrame =
    searchFilteredCells(queries, allowed, topKn, model, coarse, rot, totalCount)._1

  /** [[searchFiltered]] body, cells exposed (the [[searchPlain]] twin). */
  private def searchFilteredCells(queries: DataFrame, allowed: DataFrame, topKn: Int,
                                  model: Pq.Model, coarse: Similarity.IvfModel,
                                  rot: Option[Array[Float]],
                                  totalCount: => Long): (DataFrame, Seq[Int]) = {
    import org.apache.spark.sql.functions.col
    val allow = allowed.select(col("id").as("neighbor_id")).distinct().localCheckpoint()
    // allow.count() is by-name too: an explicit-nProbe serve skips BOTH
    // count jobs per call/micro-batch, not just the codes one — the
    // checkpoint above is still paid (the semi-join needs it), but the
    // estimate's inputs only run when the estimate runs
    val np = probeForFiltered(coarse, allow.count(), totalCount)
    val cells = Pq.probeCells(queries, model, coarse, np, rot)
    val filtered = codesTable(cells).join(allow, Seq("neighbor_id"), "left_semi")
    (Pq.searchCodes(queries, filtered, topKn, model, coarse, np, rot), cells)
  }

  /** Live rows in the codes store — the denominator of the filter
    * selectivity estimate. One count(*) over the 32 B/row codes (no
    * columns read, cheap next to the search it sizes). Resolved at
    * each call site rather than cached on the handle: a long-lived
    * serving process whose store grows under maintainStream would
    * otherwise freeze the denominator and silently under-scale the
    * probe budget — the exact failure this estimate exists to fix. */
  private def codesCountNow(): Long =
    store.read().map(_.count()).getOrElse(0L)

  /** The probe budget for a filtered search over `allowedCount` ids:
    * explicit nProbe verbatim; auto = layout-sized base scaled by
    * 1/selectivity (`allowedCount / totalCount`), capped at the
    * frozen cell count (probing every cell degenerates to PQ-scoring
    * the whole allow-list — the correct floor under an extreme
    * filter, and still O(|allowed|) distance work after the
    * semi-join). An empty allow-list keeps the base: the result is
    * empty whatever we probe. */
  private[graft] def probeForFiltered(coarse: Similarity.IvfModel,
                                      allowedCount: => Long,
                                      totalCount: => Long): Int = {
    val base = probeFor(coarse)
    // BOTH counts are by-name: they only run when the estimate can
    // actually use them — an explicit-nProbe serve must not pay a
    // count job (allow-list or codes) per call/micro-batch, and an
    // empty allow-list must not pay the codes count
    if (nProbe > 0) return base
    val allowedN = allowedCount
    if (allowedN <= 0) return base
    val total = totalCount
    if (total <= 0) base
    else {
      val sel = math.min(1.0, allowedN.toDouble / total)
      math.min(coarse.nCells.toLong,
        math.max(base.toLong, math.ceil(base / sel).toLong)).toInt
    }
  }

  /** Two-stage retrieval: PQ-approximate candidate generation, EXACT
    * re-rank — the standard answer to quantization error once codes
    * are 8 B/vector. Stage 1 is the normal probed-code search widened
    * to `candMult`·k candidates (still cell-pruned, still 8 B/vec);
    * stage 2 joins ONLY those candidate ids back to `vectors` (the
    * raw corpus the caller already has — the index itself stores
    * codes only, by design) and re-scores them with exact cosines.
    * Cost: the stage-1 search plus `|queries|·candMult·k` exact dots
    * — candidate-sized, never corpus-sized; the join is id-equi and
    * AQE-broadcastable. Recall can only improve over the plain
    * search: the true neighbor is re-found whenever it survives
    * stage 1 at ANY candidate rank, not just the top k (what PQ
    * distortion actually costs is ORDER within the shortlist, and
    * exact re-scoring repairs exactly that). Vectors absent from
    * `vectors` (deleted between index and corpus snapshots) drop out
    * — the id join is the consistency boundary.
    *
    * `candMult` is THE recall dial on clustered corpora — measured,
    * not asserted (PLANS.md r11, 2M clustered vectors): the 8 B code
    * separates modes well but barely orders WITHIN a mode, so recall
    * saturates only once the shortlist covers the query's mode
    * population — candMult ≈ modeSize/topK (recall@10 0.121 at
    * candMult=8 → 0.995 at 256 ≈ the 2000-vector mode size / 10).
    * Cost stays shortlist-sized: that sweep's wall moved 2→6 s while
    * an 8× finer CELL layout (925 s build) bought +0.01 recall —
    * tune candMult against [[recallAt]] before touching the layout.
    * RerankSpec pins the saturation shape on a planted-mode fixture. */
  def topKRerank(queries: DataFrame, vectors: DataFrame, topKn: Int,
                 candMult: Int = 4, allowed: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    require(candMult >= 1, s"candMult must be >= 1: $candMult")
    // the allow-list composes at stage 1 (candidates are generated
    // within the filter, so the re-rank can never resurface an
    // excluded id) — passing it only to stage 2 would silently waste
    // shortlist slots on vectors the filter then removes
    val shortlist = allowed match {
      case Some(a) => topK(queries, topKn * candMult, a)
      case None => topK(queries, topKn * candMult)
    }
    val cand = shortlist.select(col("query_id"), col("neighbor_id"))
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"))
    val v = vectors.select(col("id").as("neighbor_id"), col("vec").as("nv"))
    val rescored = cand.join(v, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine", graft.functions.VectorFunctions.cosine(col("qv"), col("nv")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    Similarity.topkAgg(rescored, topKn)
  }

  /** [[topKRerank]] WITHOUT the caller-side vector table: stage 2
    * re-scores the shortlist against the index's OWN SQ8 sidecar
    * (built with `sq8 = true`) — the deployment shape where the raw
    * 4 B/coord corpus never ships with the index, which is exactly
    * when the candMult recall dial matters most. Same stage 1 (probed
    * 8 B codes, allow-list composed before the shortlist); stage 2
    * reads ONLY the sidecar files the candidates can live in (key-
    * bucket prune × probed-cell prune — the shared encode pass
    * guarantees a candidate's SQ8 row carries its codes row's cell)
    * and re-scores through [[graft.functions.expr.Sq8Cosine]]: the
    * exact query against the byte-quantized vector, whose per-coord
    * grid error (~max|x|/254) sits far below the PQ distortion the
    * re-rank repairs — RerankSpec pins the recall gap to exact
    * re-rank at epsilon, and PLANS.md's sf100c table measures it at
    * 2M clustered vectors. Cost: the stage-1 search + candidate-sized
    * byte-vector cosines; bytes: ~dim/vec next to the caller table's
    * 4·dim. */
  def topKRerankIndexed(queries: DataFrame, topKn: Int,
                        candMult: Int = 4,
                        allowed: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => ofExpr, expression => toExpr}
    require(candMult >= 1, s"candMult must be >= 1: $candMult")
    require(hasRerankTier,
      s"no SQ8 re-rank tier at $dir/sq8 — build(sq8 = true), or pass the raw " +
        "vector table to topKRerank")
    val (model, coarse, rot) = loadModels()
    val (shortlist, cells) = allowed match {
      case Some(a) => searchFilteredCells(queries, a, topKn * candMult,
        model, coarse, rot, codesCountNow())
      case None => searchPlain(queries, topKn * candMult, model, coarse, rot)
    }
    // checkpoint the candidate ids: they feed the sidecar's bucket
    // probe AND the re-score join — without it stage 1 re-runs per
    // consumer (the cache-identity rule)
    val cand = shortlist
      .select(col("query_id"), col("neighbor_id"), col("cosine").as("pq_cosine"))
      .localCheckpoint()
    // an empty shortlist (or a key×cell prune that touches no files —
    // including a sidecar whose every row was deleted) is an EMPTY
    // sidecar side, not an error: the explicit-schema empty frame
    // keeps the left join (and its stage-1 fallback) well-formed.
    //
    // Both read paths enforce the SAME row-eligibility contract: a
    // sidecar row re-scores its candidate iff its recorded cell is
    // among the PROBED cells. The cold path gets that from the file
    // prune itself (readForKeysAndPartitions opens only probed-cell
    // files → `sq_cell_ok` is true by construction); warm serving
    // reads the cached frame by neighbor_id and checks the cell
    // POST-join at candidate scale — so a cell-displaced crash
    // artifact (the CDC add window RerankSpec pins) falls back to its
    // stage-1 PQ score under BOTH paths, instead of the warm path
    // scoring stale bytes the cold path would never have read. The
    // cached frame is additionally pre-filtered on the probed cells
    // while that actually prunes (a small batch); a layout-covering
    // batch skips the per-row InSet over the whole cache.
    val cellSet = cells.distinct
    val sq = (if (warmRerank)
        warmSqFrame().map { df =>
          val base = if (cellSet.size * 2 < coarse.nCells)
            df.filter(col("cell").isin(cellSet: _*)) else df
          base.select(col("neighbor_id"), col("sq"),
            col("cell").isin(cellSet: _*).as("sq_cell_ok"))
        }
      else sqStore.readForKeysAndPartitions(cand.select("neighbor_id"), cells)
        .map(_.select(col("neighbor_id"), col("sq"), lit(true).as("sq_cell_ok"))))
      .getOrElse {
        import org.apache.spark.sql.types._
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("neighbor_id", LongType),
            StructField("sq", BinaryType),
            StructField("sq_cell_ok", BooleanType))))
      }
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"))
    // LEFT join + stage-1 fallback: a candidate whose sidecar row is
    // missing or cell-displaced (the crash window between a CDC add's
    // two keyed upserts, healed by replaying the add) keeps its PQ
    // cosine instead of silently vanishing from results — the tier
    // can only refine a candidate's score, never lose the candidate
    val rescored = cand.join(sq, Seq("neighbor_id"), "left")
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine", when(col("sq").isNotNull && col("sq_cell_ok"),
          ofExpr(graft.functions.expr.Sq8Cosine(toExpr(col("qv")), toExpr(col("sq")))))
        .otherwise(col("pq_cosine")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    Similarity.topkAgg(rescored, topKn)
  }

  /** The probe count a search will use: the explicit constructor value
    * if given, else [[Similarity.suggestNProbe]] of the FROZEN cell
    * count — the probe fraction tracks the corpus-sized layout. */
  private def probeFor(coarse: Similarity.IvfModel): Int =
    if (nProbe > 0) nProbe else Similarity.suggestNProbe(coarse.nCells)

  /** The resolved probe count of this index as built (spec/monitoring
    * surface — loads the model sidecar). */
  private[graft] def resolvedNProbe: Int = probeFor(loadModels()._2)

  /** Measured recall@`topKn` of this index against a brute-force exact
    * search over `corpus` (the raw vectors — the index stores only
    * codes) for a bounded query batch. The build-time validation the
    * auto layout needs: auto cells AND auto probes are guidelines, and
    * this is the number that says whether they hold on THIS corpus
    * (PLANS.md records it per scale run). O(|queries| × |corpus|)
    * dot products — bound the query batch, not the corpus.
    *
    * `candMult > 0` measures the TWO-STAGE path ([[topKRerank]] at
    * that shortlist width) instead of the plain search — the tuning
    * loop for the r11 rule (candMult ≈ modeSize/topK on clustered
    * corpora): sweep candMult here until recall clears the target,
    * then serve with that value. `inIndex = true` measures
    * [[topKRerankIndexed]] instead — the SQ8-tier serving path, so
    * the number tuned is the number shipped; `corpus` is then only
    * the ground truth. */
  def recallAt(queries: DataFrame, corpus: DataFrame, topKn: Int,
               candMult: Int = 0, inIndex: Boolean = false): Double =
    Similarity.recall(
      if (candMult > 0 && inIndex) topKRerankIndexed(queries, topKn, candMult)
      else if (candMult > 0) topKRerank(queries, corpus, topKn, candMult)
      else topK(queries, topKn),
      Similarity.bruteForceTopK(queries, corpus, topKn))

  /** Serve a streaming frame of `(id, vec)` queries: each micro-batch
    * is searched against the index as of that batch and handed to
    * `sink`. Models load once per stream (frozen); codes re-read per
    * batch so concurrent adds become visible.
    *
    * `allowed` is a THUNK, invoked once per micro-batch, mirroring
    * the codes re-read: a DataFrame captured at stream start would
    * snapshot its parquet file listing at creation, so an overwrite
    * that replaces the policy table's files (new part names) would
    * never be seen — `Some(() => spark.read.parquet(policyPath))`
    * re-lists at every batch, and the batch-N search honors the
    * policy as of batch N. Filter semantics per batch are exactly
    * the batch-side [[topK]]'s, selectivity-scaled probe budget
    * included. */
  def serveStream(queries: DataFrame, topKn: Int, sink: DataFrame => Unit,
                  checkpoint: String,
                  allowed: Option[() => DataFrame] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val (model, coarse, rot) = loadModels()
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        if (!batch.isEmpty) {
          // same cell-pruned read as topK, per micro-batch: serving
          // I/O is O(probed cells), not O(index). The filtered branch
          // IS the batch topK body (searchFiltered), with the codes
          // count re-taken per batch — a store growing under a
          // concurrent maintainStream must keep scaling the probe
          // budget, same freshness rule as the codes re-read.
          allowed match {
            case Some(a) =>
              sink(searchFiltered(batch.toDF(), a(), topKn,
                model, coarse, rot, codesCountNow()))
            case None =>
              val np = probeFor(coarse)
              val cells = Pq.probeCells(batch.toDF(), model, coarse, np, rot)
              sink(Pq.searchCodes(batch.toDF(), codesTable(cells), topKn,
                model, coarse, np, rot))
          }
        }
      }
      .start()
  }

  /** Maintain the index from a streaming `(id, vec)` frame: every
    * micro-batch is encoded under the frozen models and upserted
    * (keyed — replayed batches overwrite the same rows, so
    * at-least-once delivery is idempotent). The ingestion twin of
    * [[serveStream]]: one stream feeds the index while another
    * queries it, coordinated only through the manifest commit. */
  /** `compactEvery` (0 = off) runs [[compact]] after every that many
    * micro-batches: each upsert writes its touched buckets as fresh
    * part files, so an unbounded maintenance stream otherwise degrades
    * every future read with O(batches) small files. Compaction is
    * layout-only (results unchanged — PqIndexSpec pins it) and cheap
    * relative to the encode, so a small period is fine; superseded
    * generations are reclaimed by an out-of-band [[vacuum]]. */
  def maintainStream(vectors: DataFrame, checkpoint: String,
                     compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery = {
    val (model, coarse, rot) = loadModels()
    var sinceCompact = 0
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        if (!batch.isEmpty) {
          // the shared CDC-append body: hasRerankTier re-checked per
          // batch (same freshness rule as the codes re-read — a tier
          // built mid-stream starts receiving deltas at the next batch)
          addEncoded(batch.toDF(), model, coarse, rot)
          sinceCompact += 1
          if (compactEvery > 0 && sinceCompact >= compactEvery) {
            compact()
            sinceCompact = 0
          }
        }
      }
      .start()
  }

  /** Rewrite over-split buckets into one file each (codes and, when
    * present, the SQ8 sidecar — see SnapshotStore.compact). Returns
    * buckets compacted. */
  def compact(maxFilesPerBucket: Int = 1): Int =
    store.compact(maxFilesPerBucket) +
      (if (hasRerankTier) sqStore.compact(maxFilesPerBucket) else 0)

  /** Reclaim superseded files + old manifests in both stores (see
    * SnapshotStore.vacuum). Run out-of-band of serving. */
  def vacuum(keepVersions: Int = 1, minAgeMs: Long = 3600L * 1000L): Long =
    store.vacuum(keepVersions, minAgeMs) +
      (if (hasRerankTier) sqStore.vacuum(keepVersions, minAgeMs) else 0L)

  /** The codes of `cells` only (partition-pruned). A built index whose
    * probed cells happen to hold no vectors reads as an empty frame,
    * not an error. */
  private def codesTable(cells: Seq[Int]): DataFrame = {
    val full = store.read().getOrElse(sys.error(s"no index built at $dir"))
    store.readPartitions(cells).getOrElse(full.limit(0))
      .select("neighbor_id", "cell", "codes", "cn")
  }

  /** Scan-prune accounting for specs/monitoring: files a probe of
    * `cells` opens vs all live files. */
  private[graft] def scanFootprint(cells: Seq[Int]): (Int, Int) =
    (store.filesForPartitions(cells).size, store.liveFileCount)

  /** (buckets key-scanned, buckets bloom-cleared) of the last add. */
  private[graft] def lastAddProbe: (Int, Int) = store.lastProbeStats

  /** The full frozen model set in ONE models.txt read/parse: PQ
    * codebooks, coarse centroids, and the OPQ rotation if the index
    * was built with one. Prefer this when more than one piece is
    * needed — the sidecar holds dim² + m·k·subDim floats as text. */
  def modelsWithRotation(): (Pq.Model, Similarity.IvfModel, Option[Array[Float]]) =
    loadModels()

  /** The frozen quantizers (PQ codebooks + coarse centroids). */
  def models(): (Pq.Model, Similarity.IvfModel) = {
    val (m0, c0, _) = loadModels()
    (m0, c0)
  }

  /** The frozen OPQ rotation, when the index was built with one. */
  def rotation(): Option[Array[Float]] = loadModels()._3

  /** Operator-facing store report — the numbers a compact / vacuum /
    * re-seed decision reads (`Main index-stats`). One bounded model
    * parse + manifest metadata; the only distributed job is the codes
    * row count. Ordered so the report prints stably. */
  def describe(): Seq[(String, String)] =
    if (!isBuilt) Seq("built" -> "false")
    else {
      val (model, coarse, rot) = loadModels()
      Seq(
        "built" -> "true",
        "vectors" -> store.read().map(_.count()).getOrElse(0L).toString,
        "dim" -> (model.m * model.subDim).toString,
        "m" -> model.m.toString,
        "k" -> model.k.toString,
        "cells" -> coarse.centroids.length.toString,
        // probeFor on the already-loaded model, not resolvedNProbe —
        // which would re-read and re-parse the whole sidecar
        "probe_resolved" -> probeFor(coarse).toString,
        "opq" -> rot.isDefined.toString,
        "live_files" -> store.liveFileCount.toString,
        "versions" -> store.versions().size.toString,
        "rerank_tier" -> hasRerankTier.toString) ++
        (if (hasRerankTier)
          Seq("rerank_vectors" -> sqStore.read().map(_.count()).getOrElse(0L).toString,
            "rerank_live_files" -> sqStore.liveFileCount.toString)
        else Nil)
    }

  // models.txt: line-oriented, Float.toString round-trips exactly
  /** Stage the frozen models to a temp file (the cheap half of the
    * two-phase build commit — see [[build]]'s ordering note). */
  private def stageModels(model: Pq.Model, coarse: Similarity.IvfModel,
                          rotation: Option[Array[Float]]): Path = {
    val sb = new StringBuilder
    sb.append(s"dim=$dim m=${model.m} k=${model.k} subDim=${model.subDim}\n")
    sb.append("codebooks=").append(model.codebooks.mkString(",")).append('\n')
    rotation.foreach(r => sb.append("rotation=").append(r.mkString(",")).append('\n'))
    coarse.centroids.foreach(c => sb.append("centroid=").append(c.mkString(",")).append('\n'))
    val tmp = new Path(s"$dir/.tmp-models-${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, true)
    try out.write(sb.result().getBytes(StandardCharsets.UTF_8)) finally out.close()
    tmp
  }

  /** Publish staged models — the build's COMMIT (one atomic rename;
    * [[isBuilt]] flips true here, after the data artifacts exist). */
  private def commitModels(tmp: Path): Unit =
    if (!fs.rename(tmp, modelPath))
      throw new java.io.IOException(s"model publish failed for $modelPath")

  private def loadModels(): (Pq.Model, Similarity.IvfModel, Option[Array[Float]]) = {
    require(fs.exists(modelPath), s"no models at $modelPath — build() first")
    val in = fs.open(modelPath)
    val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    val lines = text.linesIterator.filter(_.nonEmpty).toSeq
    val head = lines.head.split(' ').map { kv =>
      val Array(a, b) = kv.split('='); a -> b.toInt
    }.toMap
    val cb = lines.collectFirst { case l if l.startsWith("codebooks=") =>
      l.stripPrefix("codebooks=").split(',').map(_.toFloat)
    }.get
    val rot = lines.collectFirst { case l if l.startsWith("rotation=") =>
      l.stripPrefix("rotation=").split(',').map(_.toFloat)
    }
    val cents = lines.filter(_.startsWith("centroid="))
      .map(_.stripPrefix("centroid=").split(',').map(_.toFloat)).toArray
    (Pq.Model(cb, head("m"), head("k"), head("subDim")),
      Similarity.IvfModel(cents), rot)
  }
}

object PqIndex {
  /** Bucket-count guideline for the codes store, paired with
    * [[Similarity.suggestNCells]]: a PQ row is ~32 B (8 B codes + id
    * + cell + norm), and the generic partitioned-store rule
    * ([[graft.sources.SnapshotStore.suggestBuckets]]) does the rest —
    * floor 1 (the file floor is buckets × cells, so any fixed bucket
    * floor × corpus-sized cells is a small-file explosion), growing
    * only once per-cell codes outgrow the 64 MiB file target. At
    * 100 TB raw (~1e11 vectors → ~3.2 TB codes, ~500 sample-bounded
    * cells) this lands at ~96 buckets of ~64 MiB files per cell. */
  def suggestBuckets(n: Long, cells: Int, bytesPerRow: Long = 32L,
                     targetFileBytes: Long = 64L << 20): Int = {
    val bytes = // saturate instead of overflowing at absurd n
      if (n > Long.MaxValue / bytesPerRow) Long.MaxValue else n * bytesPerRow
    graft.sources.SnapshotStore.suggestBuckets(bytes, cells, targetFileBytes)
  }
}
