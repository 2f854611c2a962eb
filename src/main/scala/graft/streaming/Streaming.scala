package graft.streaming

import graft.engine.{TagEngine, TagRule}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event row for typed stateful streaming ops (Instant keeps
  * microsecond precision through the encoder; java.sql.Timestamp's
  * getTime would truncate to millis). */
final case class Ev(user_id: Long, event_id: Long, ts: java.time.Instant)

/** Emitted session. */
final case class Session(user_id: Long, session_seq: Long, n_events: Long,
                         session_start: java.time.Instant, session_end: java.time.Instant)

/** Per-user session-tracking state. */
final case class SessState(seq: Long, n: Long, start: Long, last: Long)

/** Structured-streaming twins of the batch operators (SURVEY.md §2.G).
  *
  * Every transform here accepts EITHER a streaming or a batch
  * DataFrame — identical code path, which is the Spark guarantee that
  * the streaming results match the batch oracle. The batch runs are
  * wired into the driver's correctness gate; the streaming runs are
  * exercised with MemoryStream in StreamingSpec.
  */
object Streaming {

  /** Tumbling-window counts with a watermark — the streaming form of
    * AnalyticsQueries.eventsWindowed. On a stream, late events beyond
    * `watermark` are dropped and windows finalize incrementally. */
  def windowedCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
  }

  /** Windowed frequent-items candidates on a stream: per tumbling
    * window, one Misra–Gries summary (`mg_summary` — a mergeable
    * TypedImperativeAggregate, so partial states live in the state
    * store like any streaming agg buffer). State per window is O(k)
    * REGARDLESS of item cardinality — a per-(window, item) count
    * aggregation would hold every distinct item in state; this holds k
    * counters and still guarantees every item with frequency > n/(k+1)
    * is present. Output: (window_start, n, candidate items). The exact
    * recount pass (StreamQueries.streamHeavyHitters) turns the
    * candidate superset into the deterministic φ-hitter set. */
  def windowedHeavyHitters(events: DataFrame, item: Column,
                           windowLen: String = "1 day",
                           watermark: String = "2 hours",
                           k: Int = 200): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => ofExpr, expression => toExpr}
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    val mg = ofExpr(graft.functions.expr.MgSummary(
      toExpr(item.cast("string")), k).toAggregateExpression())
    src.groupBy(window(col("ts"), windowLen).as("w"))
      .agg(mg.as("s"))
      .select(col("w.start").as("window_start"),
        col("s.n").as("n"), col("s.items.item").as("items"))
  }

  /** Rule-driven tagging on a stream: the batch TagEngine's own hit
    * array (sorted tag ids) — stateless projection, so it runs on a
    * stream unchanged (reference tags users in nightly batches; this
    * is the real-time path the reference lacks). */
  def tagStream(events: DataFrame, rules: Seq[TagRule], anchor: org.apache.spark.sql.Column): DataFrame =
    events.select(col("user_id"), col("ts"), new TagEngine(anchor).hitArray(rules).as("tag_ids"))
      .filter(size(col("tag_ids")) > 0)

  /** Stream-stream attribution join: each purchase matched to the same
    * user's views in the preceding `window`. On streams both sides
    * carry watermarks and the time-interval condition bounds the join
    * state Spark must hold (the requirement for an unbounded
    * stream-stream join); on batch frames the identical plan is a
    * plain range-bounded equi-join. The per-user view×purchase fanout
    * is bounded by the window. */
  def attributionJoin(views: DataFrame, purchases: DataFrame,
                      window: String = "1 hour"): DataFrame = {
    val v0 = if (views.isStreaming) views.withWatermark("ts", window) else views
    val p0 = if (purchases.isStreaming) purchases.withWatermark("ts", window) else purchases
    val v = v0.select(col("event_id").as("view_event_id"),
      col("user_id").as("v_user"), col("ts").as("view_ts"))
    val p = p0.select(col("event_id").as("purchase_event_id"),
      col("user_id"), col("ts").as("purchase_ts"))
    v.join(p,
      col("v_user") === col("user_id") &&
        col("view_ts") <= col("purchase_ts") &&
        col("view_ts") >= col("purchase_ts") - expr(s"INTERVAL $window"))
      .select(col("user_id"), col("purchase_event_id"), col("view_event_id"),
        col("purchase_ts"), col("view_ts"))
  }

  /** Stream-static enrichment join: attach dimension attributes to a
    * live stream before tagging — the streaming counterpart of the
    * reference's behavior-table ⋈ attribute-table joins. The static
    * side is `broadcast()` (dims are small next to an unbounded
    * stream; Spark re-reads the static source per micro-batch, so a
    * snapshot-consistent dim works unchanged). Batch input runs the
    * identical plan. */
  def enrich(events: DataFrame, dim: DataFrame,
             joinExpr: org.apache.spark.sql.Column): DataFrame =
    events.join(broadcast(dim), joinExpr, "inner")

  /** Continuous tag materialization: each micro-batch UPSERTs into the
    * keyed snapshot store — the streaming closure of the reference's
    * nightly compute→merge→write loop. foreachBatch gives exactly-once
    * per-batch semantics against the store's atomic swap; dedup within
    * the batch keeps the upsert key unique. */
  def sinkToSnapshot(tagged: DataFrame, store: graft.sources.SnapshotStore,
                     checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    tagged.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val deduped = batch.dropDuplicates("user_id")
        if (!deduped.isEmpty) store.upsert(deduped)
      }
      .start()

  /** Streaming exact dedup: first occurrence of each `keyCol` wins;
    * with a watermark set, state for keys older than the watermark is
    * dropped (bounded state — the requirement for an infinite stream).
    * Batch input degrades to a plain dropDuplicates. */
  def dedupStream(df: DataFrame, keyCol: String, watermark: Option[String] = None): DataFrame = {
    val src = watermark match {
      case Some(w) if df.isStreaming => df.withWatermark("ts", w)
      case _ => df
    }
    if (src.isStreaming && watermark.isDefined)
      src.dropDuplicatesWithinWatermark(Seq(keyCol))
    else src.dropDuplicates(Seq(keyCol))
  }

  /** Streaming decontamination: every micro-batch of a document
    * stream is checked against a FIXED eval corpus and contaminated
    * docs dropped before the sink — the live-ingest twin of
    * `corpus_decontaminate` (the incremental DAG's frozen-eval stage
    * applied per micro-batch instead of per nightly delta). The
    * distinct eval-gram table is derived and MATERIALIZED once at
    * stream start (the frozen-model discipline: a stream must not
    * re-shingle the eval corpus per batch, and the contract must not
    * drift mid-stream; eval suites are bounded so the checkpoint is
    * small) and broadcast into each batch's equi-join — the batch is
    * scanned once and never shuffled (corpusDecontaminateDocs's scale
    * plan, per batch). Stateless across batches — no index, no
    * watermark — so an at-least-once foreachBatch replay trivially
    * reproduces the same survivors. Exact-gram recall only: the
    * near-dup form (`corpusDecontaminateNearDocs`) stays a batch /
    * nightly tool, where re-deriving the eval-side MinHash structures
    * is paid once per run, not once per micro-batch. */
  def decontaminateStream(docs: DataFrame, evals: DataFrame,
                          sink: DataFrame => Unit, checkpoint: String,
                          k: Int = 5): org.apache.spark.sql.streaming.StreamingQuery = {
    // derive once, materialize under the stream's OWN checkpoint dir,
    // and cache the read-back. Two properties this buys over caching
    // the derivation directly:
    //  - cache identity is the canonicalized plan, so two live
    //    streams started from plan-identical eval frames would SHARE
    //    one cache entry — and the first to terminate would unpersist
    //    it out from under the other (every later micro-batch of the
    //    survivor silently re-deriving the gram table). The
    //    checkpoint-scoped path makes each stream's plan unique: its
    //    listener can only ever evict its own entry.
    //  - the cached frame's recompute root is the parquet, not the
    //    full shingle/distinct derivation — executor churn re-reads
    //    instead of re-deriving (persist-over-derivation kept
    //    derive-once semantics only while no block was lost).
    // Each CALL writes a generation-unique dir: a duplicate start on
    // an ACTIVE checkpoint (supervisor retry) must fail on start()'s
    // own already-active check without having overwritten the live
    // stream's backing files first — mode(overwrite) on a shared
    // path would clobber them before the rejection. A restart from
    // the same checkpoint derives a fresh generation (same
    // frozen-at-start semantics); stale generations are reclaimed
    // below once start() has succeeded (the checkpoint lock then
    // guarantees no sibling live stream reads them), and a FAILED
    // start deletes its own orphan.
    val spark = docs.sparkSession
    val gramsPath =
      s"$checkpoint/evalgrams-${java.util.UUID.randomUUID().toString.take(8)}.parquet"
    graft.queries.PipelineQueries
      .decontaminateGrams(evals, k).select("sh").distinct()
      .write.mode("overwrite").parquet(gramsPath)
    val evalGrams = spark.read.parquet(gramsPath)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hfs = new org.apache.hadoop.fs.Path(checkpoint)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val query = try docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        // pin the survivors before the isEmpty probe + sink pair
        // (the dedupNearBatch pattern) — otherwise each consumes the
        // whole shingle/join/anti-join plan from scratch
        val survivors = decontaminateBatch(batch.toDF(), evalGrams, k).localCheckpoint()
        if (!survivors.isEmpty) sink(survivors)
      }
      .start()
    catch {
      case e: Throwable =>
        evalGrams.unpersist()
        hfs.delete(new org.apache.hadoop.fs.Path(gramsPath), true)
        throw e
    }
    // reclaim previous generations (crashed runs, prior restarts)
    // name-compare, not path-compare: globStatus returns QUALIFIED
    // paths (scheme-prefixed) while gramsPath is the caller's string
    hfs.globStatus(new org.apache.hadoop.fs.Path(s"$checkpoint/evalgrams-*.parquet"))
      .filter(_.getPath.getName != new org.apache.hadoop.fs.Path(gramsPath).getName)
      .foreach(st => hfs.delete(st.getPath, true))
    // the cached eval grams live exactly as long as this query: a
    // long-lived application starting/stopping many streams must not
    // accumulate dead cached blocks. Self-removing listener, keyed on
    // the query id (runId changes across restarts from the same
    // checkpoint; a restart derives fresh grams and its own listener).
    val mgr = docs.sparkSession.streams
    mgr.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.id == query.id) { evalGrams.unpersist(); mgr.removeListener(this) }
    })
    query
  }

  /** One micro-batch of [[decontaminateStream]] (also the testable
    * unit): the batch minus every doc sharing any word k-gram with
    * the frozen eval grams. */
  def decontaminateBatch(batch: DataFrame, evalGrams: DataFrame, k: Int): DataFrame =
    batch.join(graft.queries.PipelineQueries
        .corpusDecontaminateDocsFromGrams(batch, evalGrams, k).select("doc_id"),
      Seq("doc_id"), "left_anti")

  /** Streaming near-duplicate dedup against all history: each
    * micro-batch MinHash-signs its documents, drops intra-batch
    * near-dups (exact Jaccard verification — texts are in hand), then
    * LSH-checks survivors against the accumulated signature index and
    * drops docs whose signature-estimated Jaccard vs any historical
    * candidate is ≥ the threshold. Surviving docs are emitted via
    * `sink` and their signatures appended to the index store.
    *
    * State is the signature index, NOT the corpus: numPerm longs + band
    * keys per surviving doc (~1 KB/doc at 128 perms) — at 10⁹ docs
    * that's ~1 TB of parquet, and the per-batch read is PRUNED to the
    * batch's band partitions + candidate sig buckets ([[SigIndex]]),
    * never a scan of the index. Signature-estimated Jaccard
    * (matching components / numPerm) has stderr √(j(1−j)/128) ≈ 0.035:
    * planted ~0.99 near-dups and unrelated ~0.0 docs are both many
    * sigmas from a 0.8 threshold, so the estimator neither loses
    * unique docs nor keeps dups on this kind of corpus.
    */
  /** `compactEvery` (0 = off): run `index.compact()` after every that
    * many micro-batches — an index append adds files without rewriting
    * (the store's insert fast path), so an unbounded dedup stream
    * otherwise degrades every later history probe with O(batches)
    * small files. Same maintenance contract as
    * [[graft.similarity.PqIndex.maintainStream]]. */
  def dedupNearStream(docs: DataFrame, index: SigIndex,
                      sink: DataFrame => Unit, checkpoint: String,
                      textCol: String = "text", idCol: String = "doc_id",
                      minJaccard: Double = 0.8, numPerm: Int = 128, bands: Int = 16,
                      k: Int = 3, compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery = {
    var sinceCompact = 0
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val survivors = dedupNearBatch(batch.toDF(), index, textCol, idCol,
          minJaccard, numPerm, bands, k, batchId)
        if (!survivors.isEmpty) sink(survivors)
        sinceCompact += 1
        if (compactEvery > 0 && sinceCompact >= compactEvery) {
          index.compact()
          sinceCompact = 0
        }
      }
      .start()
  }

  /** One micro-batch of [[dedupNearStream]] (also the testable unit).
    *
    * Replay safety (foreachBatch is at-least-once): index rows carry
    * the `batch_id` that wrote them, and the history-candidate join
    * excludes rows written by THIS batch id. If the job dies after
    * `index.upsert` but before the sink finishes, the replayed batch
    * would otherwise find its own (or its batch-siblings') signatures
    * in the index at est_jaccard = 1.0 and drop every document — a
    * permanent loss. With the exclusion the recomputation sees exactly
    * the pre-batch index state, reproduces the same survivor set
    * (everything here is deterministic), and the keyed upsert
    * overwrites the same rows — idempotent end to end. */
  def dedupNearBatch(batch: DataFrame, index: SigIndex,
                     textCol: String, idCol: String, minJaccard: Double,
                     numPerm: Int, bands: Int, k: Int, batchId: Long): DataFrame = {
    import graft.dedup.Dedup
    require(numPerm % bands == 0, "bands must divide numPerm")
    val r = numPerm / bands

    // intra-batch: exact LSH-verified pairs -> keep cluster canonicals
    val losers = Dedup.resolveClusters(
        Dedup.minhashLshPairs(batch, col(textCol), idCol, minJaccard, numPerm, bands, k))
      .filter(col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id").as(idCol))
    val unique = batch.join(losers, Seq(idCol), "left_anti")

    // signatures + band keys of the intra-batch survivors. Docs too
    // short to shingle (< k words) can't participate in near-dup
    // detection — they pass through unexamined rather than being
    // silently dropped (they are also not indexed: nothing can match
    // an empty signature).
    val signed = graft.sources.PlanUtils.fanout(
      unique.select(col(idCol),
          Dedup.minhashSignature(Dedup.shingles(col(textCol), k), numPerm).as("sig"))
        .filter(size(col("sig")) > 0))
      .withColumn("bh", Dedup.bandHashes(col("sig"), bands, r))
      .localCheckpoint()
    val unshingleable = unique.join(signed.select(idCol), Seq(idCol), "left_anti")

    // candidates vs history: equi-join on (band, band hash), estimate
    // = matching signature components / numPerm ≈ Jaccard
    val newDocs = {
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column => ofExpr, expression => toExpr}
      dropHistoryDups(signed, index, idCol, batchId,
        (sig, oldSig) =>
          ofExpr(graft.functions.expr.SigMatchCount(toExpr(sig), toExpr(oldSig)))
            .cast("double") / lit(numPerm),
        minJaccard)
    }

    // append the survivors' signatures to the index, emit their rows
    // (plus the unshingleable pass-throughs)
    val survivors = newDocs.localCheckpoint()
    if (!survivors.isEmpty)
      index.append(survivors.select(col(idCol), col("sig"), col("bh")), batchId)
    batch.join(
      survivors.select(idCol).unionByName(unshingleable.select(idCol)),
      Seq(idCol), "left_semi")
  }

  /** The history near-dup check shared by the text and embedding
    * streams: candidates from an equi-join of the batch's band keys
    * against the accumulated index's, similarity from `est` over the
    * two signature columns, ids at/above `threshold` dropped.
    * `signed` needs `(idCol, sig, bh)`; returns its surviving rows.
    *
    * Both index reads are PRUNED ([[SigIndex]]): the candidate join
    * opens only the batch keys' band partitions, and the signature
    * fetch opens only the candidate ids' buckets — per-batch I/O is
    * O(batch keys + candidates), not O(index). History excludes this
    * batch's own prior (replayed) writes (see SigIndex.excludeBatch
    * for the null-batch_id rule). A doc is never deduped against
    * itself. */
  private def dropHistoryDups(signed: DataFrame, index: SigIndex,
                              idCol: String, batchId: Long,
                              est: (Column, Column) => Column,
                              threshold: Double): DataFrame =
    if (!index.exists) signed
    else {
      val bNew = signed.select(col(idCol), posexplode(col("bh")).as(Seq("band", "h")))
      // pin the (small) candidate set: it feeds the sig fetch's bucket
      // probe AND the verify join — without the checkpoint the pruned
      // band read would re-run for each
      val cand = index.candidates(bNew, batchId).localCheckpoint()
      if (cand.isEmpty) signed
      else {
        val dupIds = cand
          .join(signed.select(col(idCol), col("sig")), Seq(idCol))
          .join(index.sigsFor(cand.select("old_id"), batchId), Seq("old_id"))
          .filter(est(col("sig"), col("old_sig")) >= threshold)
          .select(col(idCol)).distinct()
        signed.join(dupIds, Seq(idCol), "left_anti")
      }
    }

  /** Streaming EMBEDDING near-dup dedup against all history — the
    * vector twin of [[dedupNearStream]]. Each micro-batch drops
    * intra-batch near-dups exactly (vectors are in hand:
    * banded-RHP candidates + exact cosine,
    * [[graft.dedup.Dedup.embeddingLshPairs]]), then checks survivors
    * against the accumulated SIGNATURE index: candidates from an
    * equi-join on (band, key), similarity estimated from the Hamming
    * distance of 128-plane sign-bit signatures —
    * `est_cos = cos(π·hamming/128)` (Charikar's SimHash estimator).
    *
    * State is ~24 B/vec (two signature longs + band keys), NOT the
    * 256 B vector — the same state-is-signatures answer the text path
    * gives at 100 TB. Estimator margins at 128 bits: a planted
    * near-dup at cos 0.97 estimates 0.96 ± 0.03 and an unrelated pair
    * at cos ≤ 0.5 estimates ≤ 0.65 at +3σ — both many sigmas from a
    * 0.8-0.85 threshold, so the estimator neither drops unique
    * vectors nor keeps dups in the near-dup regime this operates in.
    *
    * `bands`/`bitsPerBand` set the candidate-join selectivity and must
    * scale with the ACCUMULATED index size, not the batch: a random
    * historical row collides with a batch key at ~bands·2^-bits — the
    * 6×8 default suits ≤10⁶-doc histories; at 10⁸+ move toward longer
    * bands (e.g. 4×15 for near-verbatim thresholds; see the PLANS.md
    * sf10 noise-floor finding and DedupQueries.dedupEmbeddingLshTight
    * for the batch twin of that operating point). */
  def dedupNearEmbeddingStream(vectors: DataFrame, index: SigIndex,
                               sink: DataFrame => Unit, checkpoint: String,
                               vecCol: String = "vec", idCol: String = "id",
                               minCosine: Double = 0.85, dim: Int = 64,
                               bands: Int = 6, bitsPerBand: Int = 8,
                               seed: Long = 42L,
                               compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery = {
    var sinceCompact = 0
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val survivors = dedupNearEmbeddingBatch(batch.toDF(), index, vecCol, idCol,
          minCosine, dim, bands, bitsPerBand, seed, batchId)
        if (!survivors.isEmpty) sink(survivors)
        sinceCompact += 1
        if (compactEvery > 0 && sinceCompact >= compactEvery) {
          index.compact()
          sinceCompact = 0
        }
      }
      .start()
  }

  /** One micro-batch of [[dedupNearEmbeddingStream]] (the testable
    * unit). Replay safety mirrors [[dedupNearBatch]]: index rows carry
    * their writing `batch_id` and the history join excludes this
    * batch's own (replayed) writes, so at-least-once foreachBatch
    * delivery reproduces the same survivor set and the keyed upsert
    * overwrites the same rows. */
  def dedupNearEmbeddingBatch(batch: DataFrame, index: SigIndex,
                              vecCol: String, idCol: String, minCosine: Double,
                              dim: Int, bands: Int, bitsPerBand: Int,
                              seed: Long, batchId: Long): DataFrame = {
    import graft.dedup.Dedup
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => ofExpr, expression => toExpr}
    val EstBits = 128

    // ONE pass per vector computes everything downstream needs: norm
    // (intra-batch exact verify), band keys (both candidate joins) and
    // the estimator bit signature. Estimator planes (seed+1) are
    // independent of the banding planes (seed), so a band collision
    // carries no information about the estimate.
    val estPlanes = graft.functions.VectorFunctions.rhpPlanes(EstBits, dim, seed + 1).toArray
    val bandPlanes = graft.functions.VectorFunctions.rhpPlanes(bands * bitsPerBand, dim, seed).toArray
    val keyed = graft.sources.PlanUtils.fanout(
      batch.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
        .withColumn("nrm", graft.functions.VectorFunctions.norm(col("v")))
        .withColumn("bh", ofExpr(graft.functions.expr.RhpBandKeys(toExpr(col("v")),
          bandPlanes, bands, bitsPerBand)))
        .withColumn("sig", ofExpr(graft.functions.expr.RhpBitSignature(toExpr(col("v")), estPlanes))))
      .localCheckpoint()

    // intra-batch: banded candidates + exact cosine (vectors in hand)
    // -> keep cluster canonicals
    val losers = Dedup.resolveClusters(
        Dedup.embeddingLshPairsKeyed(keyed, minCosine)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .filter(col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id").as("vec_id"))
    val signed = keyed.join(losers, Seq("vec_id"), "left_anti")
      .select(col("vec_id").as(idCol), col("sig"), col("bh"))

    // vs history: estimate = cos(π·hamming/bits) (Charikar)
    val newVecs = dropHistoryDups(signed, index, idCol, batchId,
      (sig, oldSig) =>
        cos(lit(math.Pi) * ofExpr(graft.functions.expr.HammingBits(
          toExpr(sig), toExpr(oldSig))).cast("double") / lit(EstBits)),
      minCosine)

    val survivors = newVecs.localCheckpoint()
    if (!survivors.isEmpty)
      index.append(survivors.select(col(idCol), col("sig"), col("bh")), batchId)
    batch.join(survivors.select(idCol), Seq(idCol), "left_semi")
  }

  /** 30-minute-gap sessionization via flatMapGroupsWithState — custom
    * state machine per user. In batch mode each group's full history
    * arrives at once (sorted here) and every session is emitted
    * (matches the SQL oracle). On a stream the same function runs
    * incrementally: closed sessions emit immediately, and the open
    * session is held in state with an EVENT-TIME TIMEOUT of one gap —
    * when the watermark passes `last + gap` the session emits without
    * needing another event from that user. Callers must set
    * `.withWatermark("ts", ...)` on the streaming input. */
  def sessionize(events: Dataset[Ev], gapMinutes: Long = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val streaming = events.isStreaming

    def micros(i: java.time.Instant): Long =
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    def instant(us: Long): java.time.Instant =
      java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
        Math.floorMod(us, 1000000L) * 1000L)

    def flush(userId: Long, evs: Iterator[Ev], state: GroupState[SessState]): Iterator[Session] = {
      if (streaming && state.hasTimedOut) {
        val st = state.get
        state.remove()
        return if (st.n > 0L)
          Iterator(Session(userId, st.seq, st.n, instant(st.start), instant(st.last)))
        else Iterator.empty
      }
      val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
      var st = state.getOption.getOrElse(SessState(0L, 0L, 0L, Long.MinValue))
      val out = Seq.newBuilder[Session]
      for (e <- sorted) {
        val t = micros(e.ts)
        if (st.n == 0L || t - st.last > gapUs) {
          if (st.n > 0L)
            out += Session(userId, st.seq, st.n, instant(st.start), instant(st.last))
          st = SessState(st.seq + 1, 1L, t, t)
        } else st = st.copy(n = st.n + 1, last = t)
      }
      if (st.n > 0L && !streaming)
        out += Session(userId, st.seq, st.n, instant(st.start), instant(st.last))
      state.update(st)
      if (streaming)
        state.setTimeoutTimestamp(Math.floorDiv(st.last + gapUs, 1000L)) // ms
      out.result().iterator
    }

    val timeout =
      if (streaming) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), timeout)(flush)
  }
}
