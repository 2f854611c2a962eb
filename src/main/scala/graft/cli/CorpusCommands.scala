package graft.cli

import graft.SparkEntry
import graft.functions.Bpe
import graft.pipeline.StateDir
import graft.queries.{PipelineQueries => P, TextQueries}
import graft.streaming.SigIndex
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The one-shot curation commands — each reads a documents parquet,
  * runs one pass and writes its decision frame — plus the registered
  * operator surface (`query`, `sql`):
  * {{{
  *   runMain graft.Main corpus-clean in=<docs.parquet> index=<dir> out=<dir> batch=<id> [scratchcheck=refuse|warn|off]
  *     # pre-flight disk check: predicted MinHash scratch (2x batch text bytes, the
  *     # measured PLANS constant) vs local-dir free space — refuse (local mode default)
  *     # or warn (cluster default) BEFORE the batch dies on ENOSPC hours in
  *   runMain graft.Main corpus-mix    in=<docs.parquet> out=<dir> [budget=20000 alpha=<t^a shares> tokens=pre|bpe]
  *   runMain graft.Main corpus-split  in=<docs.parquet> out=<dir> [valpct=2 testpct=2]
  *   runMain graft.Main select-budget in=<docs.parquet> out=<dir> [budget=4000 tokens=pre|bpe]
  *   runMain graft.Main corpus-stats  in=<docs.parquet> out=<dir>
  *   runMain graft.Main decontaminate in=<docs.parquet> evals=<eval.parquet> out=<dir> [k=5 bloom=false near=false minjaccard=0.8]
  *   runMain graft.Main contamination-score in=<docs.parquet> evals=<eval.parquet> out=<dir> [k=5]
  *   runMain graft.Main bpe-train     in=<docs.parquet> out=<merges dir> [merges=1000 maxforms=65536 vocabout=<dir>]
  *   runMain graft.Main bpe-encode    in=<docs.parquet> out=<dir> [merges=<rank,left,right parquet> vocab=<id,token parquet>]
  *   runMain graft.Main corpus-pack   in=<docs.parquet> out=<dir> [merges= vocab= budget=512 buckets=<n>]
  *     (buckets defaults to corpus-sized: one pack-window bucket per ~1M pre-tokens)
  *   runMain graft.Main dsir-select   in=<docs.parquet> targets=<target.parquet> out=<dir> [frac=0.2]
  *   runMain graft.Main corpus-shard  in=<docs.parquet> out=<dir> [shards=16 write=false]
  *   runMain graft.Main corpus-scrub  in=<docs.parquet> out=<dir> [w=20 mindocs=3]
  *   runMain graft.Main quality-score in=<docs.parquet> out=<dir> [weights=<bucket,weight_milli parquet>]
  *   runMain graft.Main quality-train good=<docs.parquet> bad=<docs.parquet> out=<weights dir>
  *   runMain graft.Main langid        in=<docs.parquet> out=<dir> [profiles=<lang,text parquet>]
  *   runMain graft.Main query name=<any SparkEntry query|list> dir=<warehouse> out=<dir>
  *   runMain graft.Main sql query=<SQL over graft_* views|list> dir=<warehouse> out=<dir>
  * }}}
  * `sql` registers every gate query as a temp view `graft_<name>`
  * (SparkEntry.registerViews) and runs arbitrary SQL over them — the
  * whole operator surface for SQL-only users, composable (`SELECT ...
  * FROM graft_q1_pricing_summary JOIN graft_tag_profiles ...`);
  * `query=list` prints the view names.
  * `corpus-clean` is the CDC-incremental clean: each invocation dedups
  * the new docs against the accumulated [[graft.streaming.SigIndex]]
  * and appends the survivors' signatures — nightly delta runs compose
  * exactly like the incremental tag runs. */
private[graft] object CorpusCommands {

  val commands: Map[String, Args.Command] = Map(
    "corpus-clean" -> { a =>
      val docs = a.spark.read.parquet(a.req("in"))
      StateDir.cleanScratchPreflight(a.spark, docs, a.scratchCheck, "corpus-clean")
      // bandparts: size the GROWING index for its target corpus at
      // creation (SigIndex.suggestBandParts); 0 adopts an existing
      // index's frozen layout — the common reopen case
      val index = new SigIndex(a.spark, a.req("index"), idCol = "doc_id",
        bandParts = a.opts.getOrElse("bandparts", "0").toInt)
      a.emit(docs.count(), P.corpusCleanIncremental(
        docs, index, a.opts.getOrElse("batch", "0").toLong).localCheckpoint())
    },
    // the mixing/selection family, operable like the reference's
    // scheduler jobs: each reads a (doc_id, lang, text) parquet and
    // writes the decision frame (ids + assignment, not text — the
    // caller joins back, so the output stays O(docs), not O(bytes))
    "corpus-mix" -> { a =>
      val docs = a.spark.read.parquet(a.req("in"))
      // supply pass + keep filter both consume the token counts:
      // persist the ~24 B/doc projection instead of tokenizing the
      // corpus twice (spillable — at 100 TB this is ~2.4 GB/executor
      // of counts vs a second full-text scan)
      val toked = a.tokenize(docs).persist(StorageLevel.MEMORY_AND_DISK)
      a.warnNullLang(toked, "corpus-mix")
      val budget = a.opts.getOrElse("budget", "20000").toLong
      // alpha present => temperature-weighted shares (t^alpha);
      // absent => equal shares (the alpha = 0 limit)
      val mixed = try (a.opts.get("alpha") match {
        case Some(al) => P.corpusMixTemperatureFromToked(toked, budget, al.toDouble)
        case None => P.corpusMixFromToked(toked, budget)
      }).localCheckpoint()
      finally toked.unpersist()
      a.emit(docs.count(), mixed)
    },
    "corpus-split" -> { a =>
      val docs = a.spark.read.parquet(a.req("in"))
      val toPoints = (pct: Double) => (P.MixHashMod * pct / 100.0).toLong
      a.emit(docs.count(), P.corpusSplitDocs(docs,
        toPoints(a.opts.getOrElse("valpct", "2").toDouble),
        toPoints(a.opts.getOrElse("testpct", "2").toDouble)).localCheckpoint())
    },
    "select-budget" -> { a =>
      val docs = a.spark.read.parquet(a.req("in"))
      val budget = a.opts.getOrElse("budget", "4000").toLong
      // score ONCE into the tiny (doc_id, lang, n_tokens, quality)
      // projection and persist it spillably: the pruned form's
      // histogram is a separate action from its final window, so an
      // unmaterialized frame would tokenize + score the corpus twice
      // (sf10: 77 s → 44 s, see PLANS.md)
      val scored = a.score(docs).persist(StorageLevel.MEMORY_AND_DISK)
      // the pruned (histogram-edge) form — bit-identical to the exact
      // window, sort ∝ budget instead of corpus
      val picked = try P.selectBudgetPrunedFromScored(scored, budget).localCheckpoint()
      finally scored.unpersist()
      a.emit(docs.count(), picked)
    },
    "corpus-stats" -> { a =>
      val docs = a.spark.read.parquet(a.req("in"))
      a.emit(docs.count(), P.corpusStatsDocs(docs).localCheckpoint())
    },
    "decontaminate" -> { a =>
      val docs = a.spark.read.parquet(a.req("in"))
      val evals = a.spark.read.parquet(a.req("evals"))
      val k = a.opts.getOrElse("k", "5").toInt
      // bloom=true is the frontier-scale form (eval suite too big to
      // broadcast exactly); identical output by construction.
      // near=true switches to MinHash near-dup pairs (doc_id,
      // eval_id, jaccard >= minjaccard) — the reworded-eval catcher.
      a.emit(docs.count(), (if (a.opts.getOrElse("near", "false").toBoolean)
        P.corpusDecontaminateNearDocs(docs, evals,
          a.opts.getOrElse("minjaccard", "0.8").toDouble)
      else if (a.opts.getOrElse("bloom", "false").toBoolean)
        P.corpusDecontaminateDocsBloom(docs, evals, k)
      else
        P.corpusDecontaminateDocs(docs, evals, k))
        .localCheckpoint())
    },
    // graded twin of decontaminate: per-doc eval-overlap fraction
    // over EVERY training doc (the audit table a curation policy
    // thresholds on)
    "contamination-score" -> { a =>
      val docs = a.spark.read.parquet(a.req("in"))
      val evals = a.spark.read.parquet(a.req("evals"))
      a.emit(docs.count(), P.corpusContaminationScoreDocs(
        docs, evals, a.opts.getOrElse("k", "5").toInt).localCheckpoint())
    },
    // learn a BPE merge table from the corpus (one word-count scan
    // + bounded driver solve); merges= caps the table size
    "bpe-train" -> { a =>
      val docs = a.spark.read.parquet(a.req("in")).select("doc_id", "text")
      val merges = Bpe.train(docs,
        a.opts.getOrElse("merges", "1000").toInt,
        a.opts.getOrElse("maxforms", Bpe.MaxForms.toString).toInt)
      Bpe.mergesTable(a.spark, merges)
        .coalesce(1).write.mode("overwrite").parquet(a.req("out"))
      // vocabout= also writes the induced (id, token) vocabulary —
      // alphabet from the corpus (exact, not the capped histogram)
      a.opts.get("vocabout").foreach { vp =>
        Bpe.vocabTable(a.spark, Bpe.vocab(merges, Bpe.alphabet(docs)))
          .coalesce(1).write.mode("overwrite").parquet(vp)
      }
      a.done(docs.count(), merges.length.toLong)
    },
    // tokenize under a trained merge table (merges= from bpe-train;
    // absent -> the builtin gate model). vocab= switches the output
    // to token IDS (-1 = out-of-vocab, never silent)
    "bpe-encode" -> { a =>
      val docs = a.spark.read.parquet(a.req("in")).select("doc_id", "text")
      val merges = a.opts.get("merges").fold(Bpe.builtin)(Bpe.readMerges(a.spark, _))
      a.emit(docs.count(), (a.opts.get("vocab") match {
        case Some(vp) =>
          val v = Bpe.readVocab(a.spark, vp)
          docs.select(col("doc_id"), Bpe.bpeEncodeIds(col("text"), merges, v).as("token_ids"))
            .withColumn("n_tokens", size(col("token_ids")).cast("long"))
        case None =>
          docs.select(col("doc_id"), Bpe.bpeEncode(col("text"), merges).as("tokens"))
            .withColumn("n_tokens", size(col("tokens")).cast("long"))
      }).localCheckpoint())
    },
    // the materialized tokenizer end: trained-BPE ids packed to the
    // token budget, one row per pack (the training artifact)
    "corpus-pack" -> { a =>
      val docs = a.spark.read.parquet(a.req("in")).select("doc_id", "text")
      val merges = a.opts.get("merges").fold(Bpe.builtin)(Bpe.readMerges(a.spark, _))
      val v = a.opts.get("vocab") match {
        case Some(vp) => Bpe.readVocab(a.spark, vp)
        case None => Bpe.vocab(merges, Bpe.alphabet(docs))
      }
      // buckets absent ⇒ 0 ⇒ packTokens sizes the pack window from
      // the corpus token mass (the r8 fixed-16 default was a
      // multi-TB single-task sort at 100×; same fix as cells/tparts)
      a.emit(docs.count(), P.packTokens(docs, merges, v,
        a.opts.getOrElse("budget", "512").toInt,
        a.opts.getOrElse("buckets", "0").toInt).localCheckpoint())
    },
    // write=true materializes the sharded corpus itself (one file
    // per shard=N dir, rows in shard_pos order — the layout a
    // training job streams); default emits the assignment table
    "corpus-shard" -> { a =>
      val docs = a.spark.read.parquet(a.req("in"))
      val shards = a.opts.getOrElse("shards", "16").toInt
      if (a.opts.getOrElse("write", "false").toBoolean) {
        P.writeShards(docs, shards, a.req("out"))
        a.done(docs.count(), a.spark.read.parquet(a.req("out")).count())
      } else {
        a.emit(docs.count(), P.shardDocs(docs, shards).localCheckpoint())
      }
    },
    "dsir-select" -> { a =>
      val docs = a.spark.read.parquet(a.req("in"))
      val targets = a.spark.read.parquet(a.req("targets"))
      a.emit(docs.count(), P.corpusDsirSelectDocs(
        docs, targets, a.opts.getOrElse("frac", "0.2").toDouble).localCheckpoint())
    },
    // repeated-span removal; rowsOut counts docs that LOST a span
    // (the number a curator inspects), the output holds every doc
    "corpus-scrub" -> { a =>
      val docs = a.spark.read.parquet(a.req("in")).select("doc_id", "text")
      val scrubbed = P.scrubDocs(docs,
        a.opts.getOrElse("w", P.ScrubChunkWords.toString).toInt,
        a.opts.getOrElse("mindocs", P.ScrubMinDocs.toString).toInt)
        .localCheckpoint()
      scrubbed.write.mode("overwrite").parquet(a.req("out"))
      a.done(docs.count(), scrubbed.filter(col("n_scrubbed") > 0).count())
    },
    // model-based quality filter: weights=<parquet with (bucket,
    // weight_milli)> is the trained-model input; absent ⇒ the
    // deterministic stand-in table (the gate configuration)
    "quality-score" -> { a =>
      val docs = a.spark.read.parquet(a.req("in")).select("doc_id", "text")
      val lam = a.opts.get("weights") match {
        case Some(p) => StateDir.readQualityWeights(a.spark, p)
        case None => TextQueries.qualityModelWeights
      }
      val scored = TextQueries.qualityModelScore(docs, lam).localCheckpoint()
      scored.write.mode("overwrite").parquet(a.req("out"))
      a.done(docs.count(), scored.filter(col("keep")).count())
    },
    // train the quality filter: NB log-count-ratio weights from a
    // labeled (good=curated, bad=rejected) pair of (doc_id, text)
    // corpora, written as the full 4096-row (bucket, weight_milli)
    // table quality-score weights= ingests
    "quality-train" -> { a =>
      val good = a.spark.read.parquet(a.req("good")).select("doc_id", "text")
      val bad = a.spark.read.parquet(a.req("bad")).select("doc_id", "text")
      val lam = TextQueries.qualityModelFit(good, bad)
      TextQueries.qualityWeightsTable(a.spark, lam)
        .coalesce(1).write.mode("overwrite").parquet(a.req("out"))
      a.done(good.count() + bad.count(), lam.length.toLong)
    },
    // trigram language ID: profiles=<(lang, text) parquet> derives
    // the profile table from a real corpus slice (new languages ride
    // along free); absent ⇒ the built-in passages. Input lang column
    // is optional — it is echoed for evaluation, not consumed.
    "langid" -> { a =>
      val in = a.spark.read.parquet(a.req("in"))
      val docs = (if (in.columns.contains("lang")) in
        else in.withColumn("lang", lit(null).cast("string")))
        .select("doc_id", "lang", "text")
      a.emit(docs.count(), TextQueries.langIdNgram(docs, a.langProfiles).localCheckpoint())
    },
    // run ANY registered operator by name over a warehouse dir — the
    // whole SparkEntry surface operable without writing code:
    //   runMain graft.Main query name=q1_pricing_summary dir=<sfDir> out=<dir>
    // `name=list` prints the registry instead of running.
    "query" -> { a =>
      val name = a.req("name")
      if (name == "list") {
        SparkEntry.queries.keys.toSeq.sorted.foreach(println)
        a.done(0, SparkEntry.queries.size.toLong)
      } else {
        val fn = SparkEntry.queries.getOrElse(name,
          sys.error(s"unknown query '$name' — run name=list for the registry"))
        a.emit(0, fn(a.spark, a.req("dir")).localCheckpoint())
      }
    },
    // SQL over the registered surface: every gate query is reachable
    // as a graft_<name> temp view. Only the views the SQL text
    // references are registered — a few operators do bounded eager
    // work at frame construction (model fits, stream replays), and
    // an unrelated query must not pay for them
    "sql" -> { a =>
      val q = a.req("query")
      if (q == "list") {
        val names = SparkEntry.queries.keys.toSeq.sorted.map(n => s"graft_$n")
        names.foreach(println)
        a.done(0, names.size.toLong)
      } else {
        // word-boundary match, not substring: a query over
        // graft_corpus_mix_temperature must not also construct the
        // graft_corpus_mix view (prefix collision — harmless results,
        // wasted eager work)
        val referenced = SparkEntry.queries.keySet.filter(n =>
          s"\\bgraft_${java.util.regex.Pattern.quote(n)}\\b".r
            .findFirstIn(q).isDefined)
        SparkEntry.registerViews(a.spark, a.req("dir"), referenced)
        a.emit(0, a.spark.sql(q).localCheckpoint())
      }
    })

}
