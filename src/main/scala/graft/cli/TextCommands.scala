package graft.cli

import graft.queries.SimilarityQueries
import graft.similarity.{PqIndex, TextIndex}
import graft.sources.SmallFile
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8

/** The lexical index lifecycle ([[graft.similarity.TextIndex]]),
  * index-served hybrid retrieval, and the long-lived serving loop:
  * {{{
  *   runMain graft.Main text-index-build|text-index-add|text-index-delete in=<...> index=<dir> [tparts=<n>]
  *     (tparts defaults to corpus-sized: one term partition per ~1M tokens)
  *   runMain graft.Main text-index-search in=<queries.parquet> index=<dir> out=<dir> [topk=10 allowed=<doc_ids.parquet>]
  *   runMain graft.Main hybrid-search in=<(query_id,qtext,vec).parquet> text-index=<dir> index=<dir> out=<dir> [topk=10 rerank=<candMult> allowed=<doc_ids.parquet> wlex=1.0 wvec=1.0]
  *     # TextIndex × PqIndex ranks fused by the gate-pinned RRF body; rerank= uses the SQ8 tier.
  *     # Query VALUES may be null per row (text-only / vector-only rows rank by their present
  *     # side); wlex=/wvec= are weighted-RRF per-side weights (exactly 0 disables a side and
  *     # skips its index probe); warm=true caches the SQ8 sidecar across calls in-process
  *   runMain graft.Main serve queries=<dir> out=<dir> [index=<dir>] [text-index=<dir>] [topk=10 rerank=<candMult> allowed= wlex= wvec= warndf=0.5 warm=true pollms=500 maxbatches=0 parallel=1]
  *     # warndf=0 opts the lexical probe out of the df guard's extra job (the latency knob
  *     # the r13 adjudication names); text-index-search/hybrid-search take the same warndf=
  *     # long-lived serving loop: answers each COMPLETE batch subdir (has _SUCCESS) of queries=
  *     # into out=/<name>, holding the index handles + warm caches open across batches (CDC
  *     # adds/deletes picked up via the generation token); exits on queries=/.stop (drained
  *     # first) or after maxbatches. Both indexes = hybrid RRF; one = that side's search alone.
  *     # A batch that throws is QUARANTINED (out=/<name>/_FAILED; delete to retry) so the
  *     # queue never wedges; every attempt is journaled to out=/serve_log.jsonl (wall, rows,
  *     # ok/failed, generation tokens, warm/cold). parallel=N answers each poll round's ready
  *     # batches concurrently from one process (shared synchronized warm caches)
  *   runMain graft.Main text-index-compact|text-index-vacuum index=<dir> [maxfiles= keep= agems=]
  * }}}
  * `text-index-stats` lives with the other store reports in
  * [[SigCommands]]. */
private[graft] object TextCommands {

  val commands: Map[String, Args.Command] = Map(
    // lexical retrieval twins of the index-* commands: build/add a
    // term-partitioned inverted index over (doc_id, text) parquet,
    // search it with (query_id, qtext) parquet
    "text-index-build" -> { a =>
      val corpus = a.spark.read.parquet(a.req("in")).select("doc_id", "text")
      a.textIndex(a.req("index")).build(corpus)
      val n = corpus.count()
      a.done(n, n)
    },
    "text-index-add" -> { a =>
      val delta = a.spark.read.parquet(a.req("in")).select("doc_id", "text")
      a.textIndex(a.req("index")).add(delta)
      val n = delta.count()
      a.done(n, n)
    },
    "text-index-delete" -> { a =>
      val ids = a.spark.read.parquet(a.req("in"))
        .select(col(a.opts.getOrElse("idcol", "doc_id")))
      val removed = a.textIndex(a.req("index")).delete(ids)
      a.done(ids.count(), removed)
    },
    "text-index-search" -> { a =>
      val queries = a.spark.read.parquet(a.req("in")).select("query_id", "qtext")
      val hits = lexical(a, a.textIndex(a.req("index")), queries,
        a.opts.getOrElse("topk", "10").toInt).localCheckpoint()
      a.emit(queries.count(), hits)
    },
    "text-index-compact" -> { a =>
      a.done(0, a.textIndex(a.req("index")).compact(a.maxFiles).toLong)
    },
    "text-index-vacuum" -> { a =>
      a.done(0, a.textIndex(a.req("index")).vacuum(a.vacuumKeep, a.vacuumAgeMs))
    },
    // index-served hybrid retrieval: TextIndex × PqIndex ranks fused
    // by the ONE RRF body the gate form pins (SimilarityQueries.fuseRrf);
    // null query values rank by the present side alone. wlex=/wvec=
    // default 1.0 = the gate arithmetic; exactly 0 skips that side
    "hybrid-search" -> { a =>
      val queries = a.spark.read.parquet(a.req("in"))
        .select("query_id", "qtext", "vec")
      val cm = rerankWidth(a)
      val hits = hybrid(a, a.textIndex(a.req("text-index")), a.pqIndex(a.req("index")),
        queries, a.opts.getOrElse("topk", "10").toInt, cm).localCheckpoint()
      a.emit(queries.count(), hits)
    },
    // the process that makes the warm caches pay: it holds the index
    // handles — and their generation-token-keyed warm caches — open
    // across batches, so batch 2+ pays the warm wall and a CDC
    // add/delete between batches is picked up by the token check (one
    // manifest read per batch), never by a process restart. Batch
    // schema by the indexes passed: both = (query_id, qtext, vec) with
    // null modalities per the hybridRrfServed contract; index= only =
    // (idcol, veccol); text-index= only = (query_id, qtext). A batch's
    // own out-dir _SUCCESS marks it answered, so a restarted serve
    // skips it (idempotent). Readers need no lease — index reads are
    // snapshot-isolated; takedowns/adds land as new manifest versions
    // the NEXT batch's token check adopts.
    "serve" -> { a =>
      val spark = a.spark
      val opts = a.opts
      val qDir = a.req("queries")
      val outDir = a.req("out")
      val topK = opts.getOrElse("topk", "10").toInt
      val cm = rerankWidth(a)
      val pollMs = opts.getOrElse("pollms", "500").toLong
      val maxBatches = opts.getOrElse("maxbatches", "0").toLong
      // parallel=N answers each poll round's ready batches from a
      // bounded N-thread pool (Spark schedules concurrent jobs from
      // one session; the warm caches are synchronized — one thread
      // builds a layer, the rest read it). Default 1 = the strict
      // arrival-order loop; a poison batch still quarantines alone.
      val par = opts.getOrElse("parallel", "1").toInt
      require(par >= 1, s"parallel=$par — need >= 1")
      val ti = opts.get("text-index").map(d => a.textIndex(d, warmDefault = "true"))
      val pq = opts.get("index").map(d => a.pqIndex(d, warmDefault = "true"))
      require(ti.nonEmpty || pq.nonEmpty,
        "serve requires index=<dir> and/or text-index=<dir>")
      val fs0 = new Path(qDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      def hp(s0: String) = new Path(s0)
      def readyBatches(): Seq[String] =
        if (!fs0.exists(hp(qDir))) Seq.empty
        else fs0.listStatus(hp(qDir)).filter(_.isDirectory)
          .map(_.getPath.getName)
          .filter(n => !n.startsWith(".") &&
            fs0.exists(hp(s"$qDir/$n/_SUCCESS")) &&
            !fs0.exists(hp(s"$outDir/$n/_SUCCESS")) &&
            // quarantined: a batch that failed is SKIPPED, not
            // retried forever — without this a malformed batch
            // (missing column, both-modalities-null row) would
            // wedge the queue: the loop crashes, a restart re-reads
            // the same batch and dies again. The operator deletes
            // the _FAILED marker to retry after fixing the batch.
            !fs0.exists(hp(s"$outDir/$n/_FAILED")))
          .sorted.toSeq
      def answer(batch: DataFrame): DataFrame = {
        (ti, pq) match {
          case (Some(t), Some(p)) =>
            hybrid(a, t, p, batch.select("query_id", "qtext", "vec"), topK, cm)
          case (None, Some(p)) =>
            val q = batch.select(
              col(opts.getOrElse("idcol", "id")).as("id"),
              col(opts.getOrElse("veccol", "vec")).as("vec"))
            // vector-only allow-lists follow the index-search
            // convention (idcol=, default "id"); hybrid/lexical use
            // the doc_id contract of their underlying APIs
            val aIds = opts.get("allowed").map(al => spark.read.parquet(al)
              .select(col(opts.getOrElse("idcol", "id")).as("id")))
            (cm, aIds) match {
              case (c, al) if c > 0 => p.topKRerankIndexed(q, topK, c, al)
              case (_, Some(al)) => p.topK(q, topK, al)
              case _ => p.topK(q, topK)
            }
          case (Some(t), None) => lexical(a, t, batch.select("query_id", "qtext"), topK)
          case (None, None) => sys.error("unreachable: require above")
        }
      }
      var processed = 0L
      var rowsOut = 0L
      var stopping = false
      // one JSON record per attempted batch in out=/serve_log.jsonl:
      // name, wall, rows, ok/failed, the generation tokens that
      // answered it, and whether they were WARM (unchanged since the
      // previous batch). Local filesystems don't support append, so
      // the log is held in memory and replaced per batch (~100 B a
      // record; a reader finds the previous log or the new one, never
      // an empty file); a restarted serve re-reads it first.
      val logPath = hp(s"$outDir/serve_log.jsonl")
      val logLines = scala.collection.mutable.ArrayBuffer[String]()
      if (fs0.exists(logPath))
        logLines ++= SmallFile.read(fs0, logPath).linesIterator.filter(_.nonEmpty)
      def jesc(s0: String): String =
        s0.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
                     case '\n' => "\\n"; case '\r' => ""
                     // Spark error messages carry tabs/control chars
                     // (plan fragments); raw they make the record
                     // RFC-invalid for every strict JSON reader
                     case c if c < ' ' => f"\\u${c.toInt}%04x"
                     case c => s"$c" }
      var prevTok: Option[(Option[(Long, Int)], Option[(Long, Int)])] = None
      // one lock covers the log buffer, the warm/prevTok comparison,
      // and the processed/rowsOut counters — everything parallel
      // workers share besides the (already-synchronized) caches
      val lock = new Object
      def logBatch(name: String, wallS: Double, rows: Long, ok: Boolean,
                   err: Option[String]): Unit = lock.synchronized {
        val tTok = ti.flatMap(_.generationToken)
        val vTok = pq.flatMap(_.generationToken)
        val warm = prevTok.contains((tTok, vTok))
        prevTok = Some((tTok, vTok))
        def tok(t: Option[(Long, Int)]) =
          t.map { case (v, h0) => s""""v${v}h$h0"""" }.getOrElse("null")
        logLines += (f"""{"batch":"${jesc(name)}","wall_s":$wallS%.3f,""" +
          s""""rows":$rows,"ok":$ok,"warm":$warm,""" +
          s""""text_token":${tok(tTok)},"vec_token":${tok(vTok)}""" +
          err.map(e => s""","error":"${jesc(e.take(300))}"""").getOrElse("") + "}")
        SmallFile.replace(fs0, logPath, (logLines.mkString("\n") + "\n").getBytes(UTF_8))
      }
      def processOne(name: String): Unit = {
        val t1 = System.nanoTime()
        def once(): Long = {
          val hits = answer(spark.read.parquet(s"$qDir/$name"))
            .localCheckpoint()
          hits.write.mode("overwrite").parquet(s"$outDir/$name")
          val n = hits.count()
          // release the checkpoint blocks NOW: a long-lived process
          // must hold zero retired blocks regardless of GC schedule
          hits.unpersist()
          n
        }
        try {
          // ONE retry before quarantine: an out-of-band CDC delete +
          // vacuum can retire files an in-flight batch's evicted
          // cache blocks recompute from — the retry re-resolves the
          // new generation. A truly poison batch fails twice (fast —
          // analysis errors die before any job runs) and quarantines.
          val n = try once() catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[graft] serve: $name attempt 1 failed " +
              s"(${e.getClass.getSimpleName}) — retrying once before quarantine")
            once()
          }
          val done2 = lock.synchronized { rowsOut += n; processed += 1; processed }
          val w = (System.nanoTime() - t1) / 1e9
          logBatch(name, w, n, ok = true, None)
          System.err.println(f"[graft] serve: $name answered in " +
            f"$w%.2f s ($done2 batches)")
        } catch { case scala.util.control.NonFatal(e) =>
          // poison batch: quarantine it (see readyBatches) and
          // keep serving — the queue must not wedge behind it
          val w = (System.nanoTime() - t1) / 1e9
          val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
          val mk = fs0.create(hp(s"$outDir/$name/_FAILED"), true)
          try mk.write(s"$msg\n".getBytes(UTF_8))
          finally mk.close()
          logBatch(name, w, 0L, ok = false, Some(msg))
          System.err.println(s"[graft] serve: $name FAILED ($msg) — " +
            s"quarantined ($outDir/$name/_FAILED); delete the marker " +
            "to retry after fixing the batch")
        }
      }
      val pool =
        if (par > 1) Some(java.util.concurrent.Executors.newFixedThreadPool(par))
        else None
      try {
        while (!stopping) {
          // each poll round is a barrier: submit the round's ready
          // batches (capped at the remaining maxbatches budget so a
          // parallel round can't overshoot), await them all, THEN
          // re-evaluate stop conditions. Out-of-order completion
          // within a round is fine — batch idempotency is per-batch
          // (_SUCCESS/_FAILED markers), and the log records arrival
          // of answers, not queue order.
          val ready0 = readyBatches()
          val ready =
            if (maxBatches > 0)
              // clamp BEFORE toInt: a maxbatches above Int.MaxValue
              // ("effectively unlimited") must not truncate to a
              // 0/negative take that would wedge the loop forever
              ready0.take(math.min(ready0.size.toLong,
                math.max(0L, maxBatches - lock.synchronized(processed))).toInt)
            else ready0
          pool match {
            case Some(p) =>
              ready.map(n => p.submit(new Runnable {
                def run(): Unit = processOne(n)
              })).foreach(_.get())
            case None => ready.foreach(processOne)
          }
          if (maxBatches > 0 && processed >= maxBatches) stopping = true
          if (!stopping && ready.isEmpty) {
            if (fs0.exists(hp(s"$qDir/.stop"))) stopping = true
            else Thread.sleep(pollMs)
          }
        }
      } finally {
        pool.foreach(_.shutdownNow())
        // the cached frames belong to this loop, not the session —
        // a host embedding several serves must not leak them
        ti.foreach(_.releaseWarmCache())
        pq.foreach(_.releaseWarmCache())
      }
      a.done(processed, rowsOut)
    })

  // allowed=<doc_ids.parquet> restricts candidates on every side
  // (corpus-level BM25 stats by contract — the filter never shifts
  // scores); re-read per call, so serve adopts a changed policy table
  // at its next batch
  private def allowedDocs(a: Args): Option[DataFrame] =
    a.opts.get("allowed").map(p => a.spark.read.parquet(p).select("doc_id"))

  // the misdirected-knob refusal index-search also makes: a negative
  // rerank= would silently serve the plain un-reranked search (the
  // candMult<=0 path) — the caller typed a knob that can only mean
  // the two-stage path, so refuse instead of ignoring
  private def rerankWidth(a: Args): Int = {
    val cm = a.opts.getOrElse("rerank", "0").toInt
    require(cm >= 0, s"rerank=$cm — pass rerank=N>0 for the SQ8 two-stage " +
      "path, or omit it (0) for the plain probed search")
    cm
  }

  private def hybrid(a: Args, t: TextIndex, p: PqIndex, queries: DataFrame,
                     topK: Int, cm: Int): DataFrame =
    SimilarityQueries.hybridRrfServed(t, p, queries, topK, cm, allowedDocs(a),
      wLex = a.opts.getOrElse("wlex", "1.0").toDouble,
      wVec = a.opts.getOrElse("wvec", "1.0").toDouble,
      warnDfFrac = a.opts.getOrElse("warndf", "0.5").toDouble)

  private def lexical(a: Args, t: TextIndex, queries: DataFrame, topK: Int): DataFrame =
    t.search(queries, topK, allowed = allowedDocs(a),
      warnDfFrac = a.opts.getOrElse("warndf", "0.5").toDouble)
}
