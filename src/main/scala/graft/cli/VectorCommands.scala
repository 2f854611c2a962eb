package graft.cli

import org.apache.spark.sql.functions._

/** The persistent vector index lifecycle ([[graft.similarity.PqIndex]]):
  * {{{
  *   runMain graft.Main index-build  in=<vectors.parquet> index=<dir> [dim=64 m=8 k=16 cells=<n> buckets=<n> opq=true sq8=true]
  *     (cells/buckets default to corpus-sized: ~4·sqrt(n) cells, codes-bytes/64MB-file buckets;
  *      sq8=true writes the in-index re-rank tier — ~dim bytes/vec next to the 8 B codes)
  *   runMain graft.Main index-add    in=<vectors.parquet> index=<dir>
  *   runMain graft.Main index-delete in=<ids.parquet> index=<dir>      # takedown path; vacuum after
  *   runMain graft.Main index-search in=<queries.parquet> index=<dir> out=<dir> [topk=10 probe=<n> allowed=<ids.parquet> vectors=<corpus.parquet> rerank=4]
  *     (probe defaults to layout-sized: max(4, cells/32) of the index's frozen cell count;
  *      rerank= WITHOUT vectors= re-ranks against the index's own SQ8 tier)
  *   runMain graft.Main index-recall in=<queries.parquet> index=<dir> vectors=<corpus.parquet> [topk=10 rerank=0 inindex=true]
  *     # measured recall vs brute force (rowsOut = recall in micro-units); rerank>0 measures the
  *     # two-stage path — sweep it until the target clears (candMult ≈ modeSize/topK on clustered data);
  *     # inindex=true measures the SQ8-tier re-rank (what a vectors-free deployment serves)
  *   runMain graft.Main index-compact|index-vacuum index=<dir> [maxfiles= keep= agems=]
  * }}}
  * Vector frames default to `(id, vec)` columns; override with
  * `idcol=` / `veccol=`. `index-stats` lives with the other store
  * reports in [[SigCommands]]. */
private[graft] object VectorCommands {

  val commands: Map[String, Args.Command] = Map(
    // minrecall=0.8 validates the built layout against brute force
    // on a bounded self-query sample and fails the build below the
    // floor (default off — validation costs sample × corpus dots)
    "index-build" -> { a =>
      val corpus = a.vectors(a.req("in"))
      a.pqIndex(a.req("index")).build(corpus,
        minRecall = a.opts.getOrElse("minrecall", "0").toDouble)
      val n = corpus.count()
      a.done(n, n)
    },
    "index-add" -> { a =>
      val delta = a.vectors(a.req("in"))
      a.pqIndex(a.req("index")).add(delta)
      val n = delta.count()
      a.done(n, n)
    },
    // the takedown path: rowsOut = ids actually removed from the
    // index (absent ids are a committed no-op — replays are safe)
    "index-delete" -> { a =>
      val ids = a.spark.read.parquet(a.req("in"))
        .select(col(a.opts.getOrElse("idcol", "id")))
      val removed = a.pqIndex(a.req("index")).remove(ids)
      a.done(ids.count(), removed)
    },
    // allowed=<ids.parquet> restricts candidates to the id set (the
    // policy/tenant filter) — scored ranks stay within the filter.
    // vectors=<corpus.parquet> [rerank=4] switches to two-stage
    // retrieval: PQ shortlist, exact cosine re-rank. rerank=N
    // WITHOUT vectors= re-ranks against the index's own SQ8 tier
    // (index-build sq8=true) — the recall dial with nothing but the
    // index directory shipped
    "index-search" -> { a =>
      val opts = a.opts
      val queries = a.vectors(a.req("in"))
      val idx = a.pqIndex(a.req("index"))
      val k = opts.getOrElse("topk", "10").toInt
      val allowedDf = opts.get("allowed").map(p =>
        a.spark.read.parquet(p).select(col(opts.getOrElse("idcol", "id")).as("id")))
      // rerank=0 means OFF everywhere (the index-recall convention):
      // it serves the plain probed search, never a zero-width rerank.
      // Negative widths are MEANINGLESS, not off — refuse up front
      // (the misdirected-knob rule), never silently serve plain
      val rerankW = opts.get("rerank").map(_.toInt)
      rerankW.foreach(w => require(w >= 0,
        s"index-search: rerank=$w — a shortlist width cannot be negative " +
          "(0 = off, N = re-rank N*topk candidates)"))
      val hits = ((opts.get("vectors"), rerankW, allowedDf) match {
        case (Some(vp), rm, al) if rm.forall(_ > 0) =>
          idx.topKRerank(queries, a.vectors(vp), k, rm.getOrElse(4), al)
        case (None, Some(rm), al) if rm > 0 =>
          idx.topKRerankIndexed(queries, k, rm, al)
        case (_, _, Some(al)) => idx.topK(queries, k, al)
        case _ => idx.topK(queries, k)
      }).localCheckpoint()
      a.emit(queries.count(), hits)
    },
    // the candMult tuning loop (PLANS.md r11): measured recall vs
    // brute force over the corpus for a BOUNDED query batch —
    // rerank=0 measures the plain probed search, rerank>0 the
    // two-stage path; sweep rerank= until the target clears, then
    // serve index-search with that value. rowsOut = recall in
    // micro-units (0..1000000), so a scheduler can gate on it.
    "index-recall" -> { a =>
      val queries = a.vectors(a.req("in"))
      val n = queries.count()
      require(n <= 10000, s"index-recall: $n queries — the exact side is " +
        "O(|queries| x |corpus|); bound the batch to <= 10000")
      val cm = a.opts.getOrElse("rerank", "0").toInt
      val k = a.opts.getOrElse("topk", "10").toInt
      // inindex=true measures the SQ8-tier path (topKRerankIndexed)
      // — tune the number the shipped index will actually serve;
      // vectors= is then only the brute-force ground truth
      val inIdx = a.opts.getOrElse("inindex", "false").toBoolean
      require(!inIdx || cm > 0,
        "index-recall: inindex=true needs rerank=N > 0 (the SQ8 tier is a re-rank stage)")
      val r = a.pqIndex(a.req("index")).recallAt(queries, a.vectors(a.req("vectors")), k, cm, inIdx)
      System.err.println(f"[graft] index-recall: $r%.4f (topk=$k rerank=$cm " +
        s"inindex=$inIdx, $n queries)")
      a.done(n, math.round(r * 1e6))
    },
    // maintenance, operable like everything else: compaction bounds
    // live files (rowsOut = buckets compacted), vacuum reclaims
    // superseded generations (rowsOut = files deleted) — run
    // out-of-band of serving, repeatedly for incremental compaction
    "index-compact" -> { a => a.done(0, a.pqIndex(a.req("index")).compact(a.maxFiles).toLong) },
    "index-vacuum" -> { a =>
      a.done(0, a.pqIndex(a.req("index")).vacuum(a.vacuumKeep, a.vacuumAgeMs))
    })

}
