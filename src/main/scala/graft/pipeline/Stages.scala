package graft.pipeline

import graft.functions.{Bpe, LangProfiles}
import graft.pipeline.StateDir._
import graft.queries.{PipelineQueries => P, TextQueries}
import graft.streaming.SigIndex
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The corpus-pipeline stage table: one [[Stage]] per step, in the
  * order `steps=` names them in its refusal. Every plan rule — which
  * steps exist, which are opt-in, the incremental default, the
  * side-effect-after-mutation and langid-before-lang-keyed orders —
  * is derived from the stage attributes here.
  *
  * Incremental (delta) forms: clean is CDC by construction;
  * decontaminate runs per-doc against a FROZEN eval state; select,
  * scrub, mix, langid and pack fit FROZEN models on the first batch
  * that runs them (the PqIndex frozen-quantizer discipline applied to
  * curation, so each decision is a pure per-doc function and drift is
  * an explicit re-fit, never a silent per-batch model); shard
  * assignment is a pure function of doc_id under a frozen count; and
  * index CDC-adds each batch's survivors to stores under state=. */
object Stages {

  // `index` and `langid` are opt-in: building retrieval artifacts is
  // a deliberate output, and a trusted upstream lang column must
  // never be silently overwritten. The frozen-model stages are not in
  // the incremental default: whichever delta runs them first SEEDS
  // the model, and that must be a deliberate operator decision.
  val clean = Stage("clean", mutatesFrame = true, cleanFull, cleanDelta,
    inIncrementalDefault = true)
  val decontaminate = Stage("decontaminate", mutatesFrame = true,
    decontaminateFull, decontaminateDelta, inIncrementalDefault = true,
    fittedMarker = Some("decontaminate/grams/_SUCCESS"))
  val langid = Stage("langid", mutatesFrame = true, langidFull, langidDelta,
    optIn = true, fittedMarker = Some("langid/profile_rows/_SUCCESS"))
  val scrub = Stage("scrub", mutatesFrame = true, scrubFull, scrubDelta,
    fittedMarker = Some("scrub/spans/_SUCCESS"))
  val select = Stage("select", mutatesFrame = true, selectFull, selectDelta,
    fittedMarker = Some("select/lambda/_SUCCESS"))
  val mix = Stage("mix", mutatesFrame = true, mixFull, mixDelta, langKeyed = true,
    fittedMarker = Some(s"mix/thresholds/$KnobsFile"))
  val shard = Stage("shard", mutatesFrame = false, shardFull, shardDelta,
    inIncrementalDefault = true, fittedMarker = Some("shards.txt"))
  val pack = Stage("pack", mutatesFrame = false, packFull, packDelta,
    fittedMarker = Some("pack/vocab/_SUCCESS"))
  val index = Stage("index", mutatesFrame = false, indexFull, indexDelta, optIn = true)

  val all: Seq[Stage] = Seq(clean, decontaminate, langid, scrub, select, mix,
    shard, pack, index)
  private val known: Seq[String] = all.map(_.name)
  private val byName: Map[String, Stage] = all.map(s => s.name -> s).toMap
  private def defaultPlan(incremental: Boolean): Seq[Stage] =
    if (incremental) all.filter(_.inIncrementalDefault) else all.filterNot(_.optIn)

  /** Resolve `steps=` (absent ⇒ the default plan) and enforce the
    * order rules before any work runs. */
  def plan(steps: Option[String], incremental: Boolean): Seq[Stage] = {
    val plan = steps.fold(defaultPlan(incremental)) { s =>
      val names = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      names.foreach(n => require(byName.contains(n),
        s"unknown pipeline step '$n' (known: ${known.mkString(",")})"))
      names.map(byName)
    }
    // side-effect stages (index appends to the serving stores,
    // pack writes training packs, shard writes the shard tree)
    // emit whatever the frame holds WHEN THEY RUN; placed before
    // a frame-mutating stage they would persist documents a later
    // stage drops or rewrites, silently breaking the
    // stores==survivors / artifacts==survivors invariant (same
    // hazard class as the langid-before-mix guard). A plan with
    // several violations names its latest side-effect stage.
    val (mutating, sideEffect) = all.filter(plan.contains).partition(_.mutatesFrame)
    for (se <- sideEffect.reverse; s <- mutating)
      require(plan.indexOf(se) > plan.indexOf(s),
        s"plan runs '${se.name}' BEFORE '${s.name}' — its output would include " +
          "documents that stage later drops or rewrites; " +
          s"reorder steps so ${se.name} follows ${s.name}")
    plan
  }

  /** Raw web corpora arrive without a lang column; the langid step
    * exists to assign one, so its absence is tolerated EXACTLY when
    * the plan contains that step, placed before every lang-keyed
    * stage — otherwise those stages (select targets, mix shares,
    * stats) would silently group a null. */
  def requireLangSource(plan: Seq[Stage], in: String): Unit = {
    require(plan.contains(langid),
      s"input $in has no lang column — add the langid step " +
        "(steps=...,langid,...) to assign one, placed before any " +
        "lang-keyed stage")
    // presence is not enough: a lang-keyed stage running BEFORE
    // langid would group/join on the null lang — the one-shot
    // mix's inner threshold join matches nothing on a null key
    // (silently emptying the corpus) and the frozen-share
    // incremental mix would keep-all an entirely unlabeled
    // batch; both mean the stage never did its job
    plan.filter(_.langKeyed).foreach { k =>
      require(plan.indexOf(langid) < plan.indexOf(k),
        s"input $in has no lang column and the plan runs '${k.name}' " +
          s"BEFORE langid — '${k.name}' keys on lang and a null key would " +
          "silently drop (one-shot) or keep-all (incremental) every " +
          s"document; reorder steps so langid precedes ${k.name}")
    }
  }

  private def fitted(r: Run, s: Stage): Boolean =
    pathExists(r.spark, s"${r.state}/${s.fittedMarker.get}")

  /** A fit knob is part of the frozen model: a value that differs
    * from the seed's refuses — batches must never run under silently
    * different contracts. */
  private def requireFrozen(r: Run, s: Stage, knob: String, dir: String,
                            frozen: => String)(same: String => Boolean): Unit =
    r.opts.get(knob).foreach(v => require(same(v),
      s"incremental ${s.name}: $knob=$v conflicts with the frozen $frozen " +
        s"under $dir — re-seed to change it"))

  // order-independent content fingerprint of a two-string-column
  // frame: xor of per-row hashes mixed with the row count — the
  // frozen-model input-identity check (decontaminate's evals,
  // langid's profile slice)
  private def contentFingerprint(df: DataFrame): Long = {
    val cols = df.columns
    val r = df.agg(count(lit(1)),
      coalesce(expr(s"bit_xor(xxhash64(${cols(0)}, ${cols(1)}))"), lit(0L))).head()
    java.lang.Long.rotateLeft(r.getLong(0), 32) ^ r.getLong(1)
  }

  private def scratchPreflight(r: Run): Unit =
    r.scratchStats = cleanScratchPreflight(r.spark, r.cur, r.args.scratchCheck,
      "corpus-pipeline clean")

  private def cleanFull(r: Run): Option[Long] = {
    scratchPreflight(r)
    Some(r.advance(P.corpusCleanDocs(r.cur).select("doc_id", "lang", "text")))
  }

  // the CDC clean: dedup the delta against the accumulated signature
  // index (bandparts sizes a NEW index; 0 adopts an existing one's
  // frozen layout). The scratch pre-flight runs on the cached `cur`,
  // so its length pass is one in-memory agg
  private def cleanDelta(r: Run): Option[Long] = {
    scratchPreflight(r)
    val index = new SigIndex(r.spark, s"${r.state}/sig",
      idCol = "doc_id", bandParts = r.opts.getOrElse("bandparts", "0").toInt)
    Some(r.advance(P.corpusCleanIncremental(r.cur, index, r.batch,
      keepText = true).select("doc_id", "lang", "text")))
  }

  private def dropFlagged(r: Run, exact: DataFrame, near: DataFrame): Option[Long] =
    Some(r.advance(r.cur.join(exact.union(near).distinct(), Seq("doc_id"), "left_anti")))

  private def decontaminateFull(r: Run): Option[Long] = r.opts.get("evals") match {
    case Some(p) =>
      val evals = r.spark.read.parquet(p).select("doc_id", "text")
      val exact = P.corpusDecontaminateDocs(r.cur, evals,
        r.opts.getOrElse("k", "5").toInt).select("doc_id")
      val near = P.corpusDecontaminateNearDocs(r.cur, evals,
        r.opts.getOrElse("minjaccard", "0.8").toDouble).select("doc_id")
      dropFlagged(r, exact, near)
    case None =>
      System.err.println("[graft] corpus-pipeline decontaminate SKIPPED (no evals=)")
      None
  }

  // frozen-eval-state CDC decontaminate: the seed batch persists the
  // distinct eval-gram table (the exact side's input) and a copy of
  // the evals (the near side's) under state/decontaminate with a
  // fingerprint + the fit knobs; later batches run from the frozen
  // state alone, and an evals= that IS passed must fingerprint-match
  // (batches must never be decontaminated under different contracts).
  private def decontaminateDelta(r: Run): Option[Long] = {
    val decState = s"${r.state}/decontaminate"
    val gramsPath = s"$decState/grams"
    val evalsCopy = s"$decState/evals"
    val isFitted = fitted(r, decontaminate)
    def fingerprint(evals: DataFrame): Long =
      contentFingerprint(evals.select("doc_id", "text"))
    if (!isFitted && r.opts.get("evals").isEmpty) {
      System.err.println("[graft] corpus-pipeline decontaminate SKIPPED " +
        "(no frozen eval state under state/decontaminate and no evals= to seed it)")
      None
    } else {
      val (k, minJ) =
        if (isFitted) {
          val fk = readLongSidecar(r.spark, decState, "shinglek").toInt
          requireFrozen(r, decontaminate, "k", decState, s"shingle size $fk")(_.toInt == fk)
          val fmj = readLongSidecar(r.spark, decState, "minjmicro")
          requireFrozen(r, decontaminate, "minjaccard", decState, s"threshold ${fmj / 1e6}")(
            v => math.round(v.toDouble * 1e6) == fmj)
          r.opts.get("evals").foreach { p =>
            val fp = fingerprint(r.spark.read.parquet(p).select("doc_id", "text"))
            require(fp == readLongSidecar(r.spark, decState, "fingerprint"),
              s"incremental decontaminate: evals=$p is NOT the frozen eval set " +
                s"under $decState (fingerprint mismatch) — the eval contract is " +
                "seed-frozen; re-seed to change it")
          }
          (fk, fmj / 1e6)
        } else {
          val k0 = r.opts.getOrElse("k", "5").toInt
          val mj = r.opts.getOrElse("minjaccard", "0.8").toDouble
          val evals = r.spark.read.parquet(r.opts("evals")).select("doc_id", "text")
          // sidecars + the evals copy FIRST; grams/_SUCCESS is
          // the commit point (the select/scrub discipline): a
          // crash mid-seed leaves fitted=false and re-seeds
          writeLongSidecar(r.spark, decState, "shinglek", k0.toLong)
          writeLongSidecar(r.spark, decState, "minjmicro", math.round(mj * 1e6))
          writeLongSidecar(r.spark, decState, "fingerprint", fingerprint(evals))
          evals.write.mode("overwrite").parquet(evalsCopy)
          P.decontaminateGrams(evals, k0).select("sh").distinct()
            .write.mode("overwrite").parquet(gramsPath)
          System.err.println("[graft] corpus-pipeline decontaminate: eval " +
            s"state frozen on seed batch (k=$k0, minjaccard=$mj)")
          (k0, mj)
        }
      val exact = P.corpusDecontaminateDocsFromGrams(r.cur,
        r.spark.read.parquet(gramsPath), k).select("doc_id")
      val near = P.corpusDecontaminateNearDocs(r.cur,
        r.spark.read.parquet(evalsCopy), minJ).select("doc_id")
      dropFlagged(r, exact, near)
    }
  }

  // langid application, shared by both modes: score under the
  // profile set, swap the lang column, keep (doc_id, lang, text).
  // The rejoin is doc-grain on doc_id — the scrub-stage shape
  private def applyLangid(r: Run, prof: LangProfiles.ProfileSet): Option[Long] = {
    val pred = TextQueries.langIdNgram(r.cur.select("doc_id", "lang", "text"), prof)
      .select(col("doc_id"), col("predicted_lang"))
    Some(r.advance(r.cur.select("doc_id", "text").join(pred, Seq("doc_id"))
      .select(col("doc_id"), col("predicted_lang").as("lang"), col("text"))))
  }

  private def langidFull(r: Run): Option[Long] = applyLangid(r, r.args.langProfiles)

  // langid ASSIGNS lang from the text (the entry stage for raw web
  // corpora without a lang column). Incremental: the profile TABLE is
  // the frozen model — the seed batch derives it (profiles= slice or
  // the builtin passages) and persists it under state/langid with the
  // slice's content fingerprint; a conflicting profiles= refuses, so
  // batches are never labeled under silently different classifiers.
  private def langidDelta(r: Run): Option[Long] = {
    val lgState = s"${r.state}/langid"
    val rowsPath = s"$lgState/profile_rows"
    val langsPath = s"$lgState/profile_langs"
    val prof =
      if (fitted(r, langid)) {
        r.opts.get("profiles") match {
          case Some(p) =>
            readLongSidecarIfExists(r.spark, lgState, "fingerprint") match {
              case Some(fp) =>
                val have = contentFingerprint(
                  r.spark.read.parquet(p).select("lang", "text"))
                require(have == fp,
                  s"incremental langid: profiles=$p is NOT the frozen profile " +
                    s"slice under $lgState (fingerprint mismatch) — the " +
                    "classifier is seed-frozen; re-seed to change it")
              case None =>
                sys.error(s"incremental langid: the seed batch froze the BUILTIN " +
                  s"profiles under $lgState; profiles=$p would label later " +
                  "batches under a different classifier — re-seed to change it")
            }
          case None => ()
        }
        // langs sidecar carries the priority order; rows are
        // the (plang, tg, w) table — both tiny by construction
        val langs = r.spark.read.parquet(langsPath).orderBy("prio")
          .collect().map(row => (row.getString(0), row.getInt(1))).toSeq
        val rows = r.spark.read.parquet(rowsPath)
          .collect().map(row => (row.getString(0), row.getString(1), row.getInt(2))).toSeq
        LangProfiles.ProfileSet(langs, rows)
      } else {
        val p0 = r.opts.get("profiles")
        val prof0 = r.args.langProfiles
        // sidecars + langs FIRST; rows/_SUCCESS is the commit
        // point (the frozen-stage publish discipline): a crash
        // mid-seed leaves fitted=false and re-seeds
        p0 match {
          case Some(p) => writeLongSidecar(r.spark, lgState, "fingerprint",
            contentFingerprint(r.spark.read.parquet(p).select("lang", "text")))
          case None =>
            // a CRASHED profiles= seed may have left its
            // fingerprint sidecar (sidecars publish before the
            // commit point); a builtin re-seed must remove it,
            // or a later profiles= would fingerprint-match and
            // pass while labeling actually ran under the
            // builtin — the silent-different-classifier case
            // the fitted branch's refusal exists to prevent
            val fpp = new Path(s"$lgState/fingerprint.txt")
            fpp.getFileSystem(r.spark.sparkContext.hadoopConfiguration).delete(fpp, false)
        }
        import r.spark.implicits._
        prof0.languages.toDF("plang", "prio")
          .coalesce(1).write.mode("overwrite").parquet(langsPath)
        prof0.rows.toDF("plang", "tg", "w")
          .coalesce(1).write.mode("overwrite").parquet(rowsPath)
        System.err.println("[graft] corpus-pipeline langid: profile table " +
          s"frozen on seed batch (${p0.fold("builtin")(p => s"profiles=$p")}, " +
          s"${prof0.languages.size} languages)")
        prof0
      }
    applyLangid(r, prof)
  }

  private def withScrubbedText(r: Run, scrubbed: DataFrame): Long =
    r.advance(r.cur.select("doc_id", "lang").join(
      scrubbed.select(col("doc_id"), col("text_scrubbed").as("text")), Seq("doc_id")))

  private def scrubFull(r: Run): Option[Long] = {
    val scrubbed = P.scrubDocs(r.cur.select("doc_id", "text"),
      r.opts.getOrElse("w", P.ScrubChunkWords.toString).toInt,
      r.opts.getOrElse("mindocs", P.ScrubMinDocs.toString).toInt)
    Some(withScrubbedText(r, scrubbed))
  }

  // frozen-model CDC scrub: the seed batch learns the hot-span table
  // and freezes it under state/scrub with its chunk width; deltas
  // scrub under it — a pure per-doc rewrite. A template that only
  // becomes hot ACROSS batches is missed until an explicit re-fit.
  private def scrubDelta(r: Run): Option[Long] = {
    val scrState = s"${r.state}/scrub"
    val spansPath = s"$scrState/spans"
    val isFitted = fitted(r, scrub)
    // a scrub-refit that crashed mid-swap left the old generation
    // parked and no live spans — NOT a seed situation: re-seeding
    // from this batch would silently replace a calibration that
    // still exists (the mix stage's rule); re-run scrub-refit,
    // whose repair finishes the swap
    require(isFitted || !swapInterrupted(r.spark, spansPath),
      s"incremental scrub: an interrupted scrub-refit left the frozen " +
        s"spans parked beside $spansPath — re-run scrub-refit to " +
        "complete the swap before scrubbing further batches")
    val textOnly = r.cur.select("doc_id", "text")
    // every batch (seed included) persists its own span
    // frequencies under state/scrub/freq/batch=<id> — the
    // cross-batch evidence the frozen-model caveat needs.
    // Batches are doc-disjoint (the CDC contract), so summing
    // df across batch dirs IS the union corpus's distinct-doc
    // count, and replay overwrites its own dir (idempotent).
    val freqDir = s"$scrState/freq"
    val batchFreqPath = s"$freqDir/batch=${r.batch}"
    val nIn = r.lastDocs
    val nBefore = math.max(1L, nIn)
    val (w, md, hot) =
      if (isFitted) {
        val frozenW = readLongSidecar(r.spark, scrState, "chunkwords").toInt
        // a different w= would scrub on misaligned boundaries, a
        // different mindocs= would claim a threshold the frozen
        // table never saw
        requireFrozen(r, scrub, "w", scrState, s"chunk width $frozenW")(_.toInt == frozenW)
        val frozenMd = readLongSidecar(r.spark, scrState, "mindocs")
        requireFrozen(r, scrub, "mindocs", scrState, s"fit threshold $frozenMd")(
          _.toLong == frozenMd)
        P.spanFreq(textOnly, frozenW)
          .write.mode("overwrite").parquet(batchFreqPath)
        (frozenW, frozenMd, r.spark.read.parquet(spansPath)
          .select(col("h").cast("long")).collect().map(_.getLong(0)))
      } else {
        val fitW = r.opts.getOrElse("w", P.ScrubChunkWords.toString).toInt
        val fitMd = r.opts.getOrElse("mindocs", P.ScrubMinDocs.toString).toInt
        // one frequency pass feeds BOTH the hot-table fit and
        // the persisted batch evidence
        val freq = P.spanFreq(textOnly, fitW)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val h =
          try {
            val h0 = P.hotSpansFromFreq(freq, fitMd)
            freq.write.mode("overwrite").parquet(batchFreqPath)
            h0
          } finally freq.unpersist()
        (fitW, fitMd.toLong, h)
      }
    // scrub under the (frozen or just-fit) table; the batch
    // HIT RATE (docs that lost >= 1 span) is the scrub stage's
    // drift observable
    val scrubbed = P.scrubWithSpans(textOnly, w, hot)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val hitRate =
      scrubbed.filter(col("n_scrubbed") > 0).count().toDouble / nBefore
    if (!isFitted) {
      // sidecars (fit knobs + the drift baseline) FIRST: the
      // spans parquet's _SUCCESS is the fitted-model commit
      // point (see writeLongSidecar)
      writeLongSidecar(r.spark, scrState, "chunkwords", w.toLong)
      writeLongSidecar(r.spark, scrState, "mindocs", md)
      writeLongSidecar(r.spark, scrState, "seedhitmicro",
        math.round(hitRate * 1e6))
      import r.spark.implicits._
      hot.toSeq.toDF("h").coalesce(1).write.mode("overwrite").parquet(spansPath)
      System.err.println("[graft] corpus-pipeline scrub: frozen " +
        f"${hot.length}-span table fit on seed batch (w=$w, hit rate $hitRate%.4f)")
      r.rates += "scrub_hit" -> hitRate
    } else if (nIn > 0) {
      // an empty delta has no hit rate: 0/0 must not cry wolf
      r.checkDrift("scrub_hit", scrState, "seedhitmicro", hitRate, rebaseline = Some("scrub"))
    }
    val docs = withScrubbedText(r, scrubbed)
    scrubbed.unpersist()
    // the cross-batch report: spans whose ACCUMULATED distinct
    // doc count crossed the frozen threshold but are absent
    // from the frozen table — the templates the frozen model
    // is provably missing. Advisory (report + persisted
    // evidence + suggest re-fit), never silent model mutation.
    val emergent = r.spark.read.parquet(freqDir)
      .groupBy("h").agg(sum("df").as("df"))
      .filter(col("df") >= md)
      .join(r.spark.read.parquet(spansPath).select("h"), Seq("h"), "left_anti")
      .localCheckpoint()
    val nEmergent = emergent.count()
    r.scrubEmergent = Some(nEmergent)
    if (nEmergent > 0) {
      emergent.write.mode("overwrite").parquet(s"$scrState/emergent")
      System.err.println(s"[graft] corpus-pipeline WARNING scrub: $nEmergent " +
        s"span(s) crossed mindocs=$md ACROSS batches but are not in the " +
        s"frozen table (evidence at $scrState/emergent) — these templates " +
        "are NOT being scrubbed; re-seed state/scrub to re-fit " +
        "(frozen-model discipline: advisory, never silent mutation)")
    }
    Some(docs)
  }

  private def selectFull(r: Run): Option[Long] = r.opts.get("targets") match {
    case Some(p) =>
      val targets = r.spark.read.parquet(p).select("doc_id", "text")
      // same default as the standalone dsir-select command —
      // one silent default, not two
      val sel = P.corpusDsirSelectDocs(r.cur.select("doc_id", "text"), targets,
        r.opts.getOrElse("frac", "0.2").toDouble).select("doc_id")
      Some(r.advance(r.cur.join(sel, Seq("doc_id"))))
    case None =>
      System.err.println("[graft] corpus-pipeline select SKIPPED (no targets=)")
      None
  }

  // frozen-model CDC select: λ + threshold are fit on the seed batch
  // (targets= required then) and frozen under state/select; later
  // batches score under them. λ uses the quality-weights (bucket,
  // weight_milli) format and its loud-validation reader.
  private def selectDelta(r: Run): Option[Long] = {
    val selState = s"${r.state}/select"
    val lamPath = s"$selState/lambda"
    val isFitted = fitted(r, select)
    if (!isFitted && r.opts.get("targets").isEmpty) {
      // no frozen model and nothing to fit one from: skip like
      // the non-incremental form — selection participates only
      // once a seed run supplied targets=
      System.err.println("[graft] corpus-pipeline select SKIPPED " +
        "(no frozen model under state/select and no targets= to fit one)")
      None
    } else {
      val nIn = r.lastDocs
      val nBefore = math.max(1L, nIn)
      if (isFitted) {
        // using the seed calibration silently under another frac=
        // would let the operator misattribute the keep rate to the data
        lazy val frozen = readLongSidecar(r.spark, selState, "fracmicro")
        requireFrozen(r, select, "frac", selState, s"calibration (frac ${frozen / 1e6})")(
          v => math.round(v.toDouble * 1e6) == frozen)
        val lam = readQualityWeights(r.spark, lamPath)
        val thr = readLongSidecar(r.spark, selState, "threshold")
        val keep = P.dsirScoreDocs(r.cur.select("doc_id", "text"), lam)
          .filter(col("weight_milli") >= thr).select("doc_id")
        val docs = r.advance(r.cur.join(keep, Seq("doc_id")))
        // the drift signal separates supply noise from an off-domain
        // delta the frozen model mis-scores. An EMPTY delta (every
        // doc deduped upstream) has no rate: 0/0 must not cry wolf
        if (nIn > 0)
          r.checkDrift("select_keep", selState, "seedkeepmicro", docs.toDouble / nBefore)
        Some(docs)
      } else {
        val frac = r.opts.getOrElse("frac", "0.2").toDouble
        val targets = r.spark.read.parquet(r.opts("targets")).select("doc_id", "text")
        // the fit already scored every seed doc — reuse its
        // kept set rather than re-scanning the seed text
        val (l, t, keptSeed) = P.dsirFitModel(r.cur.select("doc_id", "text"), targets, frac)
        // the advance's count IS the kept count (keptSeed ids
        // are distinct and ⊆ cur's) — no second count job
        val docs = r.advance(r.cur.join(keptSeed, Seq("doc_id")))
        val seedRate = docs.toDouble / nBefore
        // sidecars FIRST: the lambda parquet's _SUCCESS is
        // the fitted-model commit point, so a crash before
        // it leaves a re-fittable state, never a half-model.
        // seedkeepmicro is the REALIZED seed keep rate — the
        // baseline every later batch's drift check compares to
        writeLongSidecar(r.spark, selState, "threshold", t)
        writeLongSidecar(r.spark, selState, "fracmicro", math.round(frac * 1e6))
        writeLongSidecar(r.spark, selState, "seedkeepmicro", math.round(seedRate * 1e6))
        TextQueries.qualityWeightsTable(r.spark, l)
          .coalesce(1).write.mode("overwrite").parquet(lamPath)
        System.err.println("[graft] corpus-pipeline select: frozen model " +
          f"fit on seed batch (threshold $t, keep rate $seedRate%.4f)")
        r.rates += "select_keep" -> seedRate
        Some(docs)
      }
    }
  }

  private def keepAll(r: Run): Option[Long] = {
    System.err.println("[graft] corpus-pipeline mix KEEP-ALL " +
      "(no budget= — pass budget=<tokens> to downsample to a token budget)")
    Some(r.cur.count())
  }

  // mix is SAFE BY DEFAULT: without budget= the stage keeps the full
  // supply and says so — a one-shot DAG must not destroy 99.9% of
  // its corpus because a knob went unread (PLANS.md r8).
  // The tokenize is persisted around BOTH its consumers (the
  // supply aggregate and the keep-filter scan) and released before
  // the stage returns.
  private def mixFull(r: Run): Option[Long] = r.opts.get("budget") match {
    case None => keepAll(r)
    case Some(b) =>
      r.mixBudget = Some(b.toLong)
      val toked = r.args.tokenize(r.cur).persist(StorageLevel.MEMORY_AND_DISK)
      r.args.warnNullLang(toked, "corpus-pipeline mix")
      val kept = try P.corpusMixTemperatureFromToked(toked, b.toLong,
          r.opts.getOrElse("alpha", "0.5").toDouble)
        .select("doc_id").localCheckpoint()
        finally toked.unpersist()
      Some(r.advance(r.cur.join(kept, Seq("doc_id"))))
  }

  // frozen-share CDC mix. A per-batch mix is WRONG by construction
  // (each batch's supply recalibrates the thresholds, so the
  // accumulated survivors equal no one-shot run); instead the seed
  // batch calibrates per-language keep thresholds from ITS supply
  // (mixKeepPoints) and freezes them under state/mix, and deltas
  // apply the frozen residue filter per-doc — order-free,
  // batch-composable, replay-idempotent. Supply drift is what the
  // keep-rate drift signal watches; re-calibration is the explicit
  // `mix-refit` (fed by the supply evidence every mixing batch
  // appends under state/mix/supply). A language the seed never saw
  // keeps everything, LOUDLY — silently destroying a new language's
  // whole supply is the DAG's cardinal sin.
  private def mixDelta(r: Run): Option[Long] = {
    val mixState = s"${r.state}/mix"
    val thrPath = s"$mixState/thresholds"
    // the knobs file doubles as the fitted-model marker: it is
    // the LAST artifact a seed writes (after the parquet), so
    // a crashed seed is simply not fitted and re-seeds
    val isFitted = fitted(r, mix)
    // a refit that crashed mid-swap left the old generation
    // parked and no live thresholds — that is NOT a seed
    // situation: re-seeding from this batch's supply would
    // silently replace a calibration that still exists; the
    // remedy is re-running mix-refit (whose repair restores or
    // rolls forward the swap)
    require(isFitted || !swapInterrupted(r.spark, thrPath),
      s"incremental mix: an interrupted mix-refit left the frozen " +
        s"calibration parked beside $thrPath — re-run mix-refit to " +
        "complete the swap before mixing further batches")
    if (!isFitted && pathExists(r.spark, thrPath))
      System.err.println("[graft] corpus-pipeline mix: thresholds " +
        s"exist at $thrPath without a $KnobsFile marker (a crashed " +
        "seed) — re-seeding over them from this batch's supply")
    r.opts.get("budget") match {
      case None =>
        // a fitted pipeline must not silently pass a batch
        // through unmixed because one cron entry lost its
        // budget= — KEEP-ALL is only safe when no calibration
        // exists to bypass (r11 review finding)
        require(!isFitted,
          s"incremental mix: a frozen calibration exists under $mixState " +
            "but this batch has no budget= — omitting it would append the " +
            "batch UNMIXED to the accumulated survivors; pass the frozen " +
            "budget= (or mix-refit / re-seed to change the contract)")
        keepAll(r)
      case Some(b) =>
        r.mixBudget = Some(b.toLong)
        val nIn = r.lastDocs
        val tokensMode = r.args.tokensMode
        val bpeMode = if (tokensMode == "bpe") 1L else 0L
        val toked = r.args.tokenize(r.cur).persist(StorageLevel.MEMORY_AND_DISK)
        try {
          // fit knobs are part of the frozen model; validated BEFORE
          // the supply evidence persists, so a refused batch leaves no
          // evidence counted under the wrong denomination for a later
          // mix-refit to sum.
          if (isFitted) {
            val k = readKnobsFile(r.spark, thrPath)
            require(b.toLong == k("budget"),
              s"incremental mix: budget=$b conflicts with the frozen " +
                s"calibration (budget ${k("budget")}) under $mixState — " +
                "mix-refit budget= to re-calibrate, or re-seed")
            r.opts.get("alpha").foreach { v =>
              require(math.round(v.toDouble * 1e6) == k("alphamicro"),
                s"incremental mix: alpha=$v conflicts with the frozen " +
                  s"calibration (alpha ${k("alphamicro") / 1e6}) under $mixState — " +
                  "mix-refit alpha= to re-calibrate, or re-seed")
            }
            require(bpeMode == k("bpemode"),
              s"incremental mix: tokens=$tokensMode " +
                s"conflicts with the frozen denomination under $mixState — " +
                "the accumulated supply evidence was counted in it; " +
                "re-seed to change denominations")
          }
          r.args.warnNullLang(toked, "corpus-pipeline incremental mix")
          // non-null langs only: null-lang docs are kept whole
          // (the mixApplyKeepPoints left join), take no budget
          // share, and must not reach the String sort (a null
          // key NPEs it) or the persisted supply evidence a
          // later mix-refit sums
          val supply = toked.filter(col("lang").isNotNull).groupBy("lang")
            .agg(sum("n_tokens").as("lang_tokens"))
            .collect().map(row => row.getString(0) -> row.getLong(1)).toSeq.sortBy(_._1)
          import r.spark.implicits._
          // supply evidence for mix-refit: this batch's
          // per-language token mass, replay-overwritten under
          // its own dir (the scrub freq-evidence pattern)
          supply.toDF("lang", "lang_tokens").coalesce(1)
            .write.mode("overwrite")
            .parquet(s"$mixState/supply/batch=${r.batch}")
          val alpha = r.opts.getOrElse("alpha", "0.5").toDouble
          val thr =
            if (!isFitted) P.mixKeepPoints(supply, b.toLong, alpha).toDF("lang", "keep_points")
            else {
              val frozen = r.spark.read.parquet(thrPath).select("lang", "keep_points")
              val unseen = supply.map(_._1).toSet --
                frozen.select("lang").collect().map(_.getString(0)).toSet
              if (unseen.nonEmpty)
                System.err.println("[graft] corpus-pipeline WARNING mix: " +
                  s"language(s) ${unseen.toSeq.sorted.mkString(",")} have no " +
                  "frozen threshold (not in the seed supply) — kept WHOLE; " +
                  "mix-refit to fold the accumulated supply into the model")
              frozen
            }
          val kept = P.mixApplyKeepPoints(toked, thr).select("doc_id").localCheckpoint()
          val docs = r.advance(r.cur.join(kept, Seq("doc_id")))
          val rate = docs.toDouble / math.max(1L, nIn)
          if (isFitted) {
            if (nIn > 0)
              r.checkDrift("mix_keep", mixState, "seedkeepmicro", rate, rebaseline = Some("mix"))
          } else {
            // drift baseline first (advisory), then the parquet,
            // then the knobs file — the completion marker is the
            // LAST artifact written
            writeLongSidecar(r.spark, mixState, "seedkeepmicro", math.round(rate * 1e6))
            thr.coalesce(1).write.mode("overwrite").parquet(thrPath)
            writeKnobsFile(r.spark, thrPath, Seq(
              "budget" -> b.toLong,
              "alphamicro" -> math.round(alpha * 1e6),
              "bpemode" -> bpeMode))
            System.err.println("[graft] corpus-pipeline mix: frozen " +
              f"per-language thresholds fit on seed batch (budget $b, " +
              f"alpha $alpha, keep rate $rate%.4f)")
            r.rates += "mix_keep" -> rate
          }
          Some(docs)
        } finally toked.unpersist()
    }
  }

  private def writeShards(r: Run, n: Int, out: String): Option[Long] = {
    P.writeShards(r.cur, n, out)
    System.err.println(s"[graft] corpus-pipeline shard -> written ($out)")
    None
  }

  private def shardFull(r: Run): Option[Long] =
    writeShards(r, r.opts.getOrElse("shards", "16").toInt, s"${r.base}/shards")

  // incremental: the delta's rows land in a per-batch dir of the
  // STATE's shard tree (replay overwrites its own dir). shardDocs'
  // assignment is a pure function of (doc_id, shard COUNT), so the
  // accumulated tree equals a one-shot run's PROVIDED every batch
  // uses one count: the first batch that shards freezes it
  // (state/shards.txt) and a conflicting shards= refuses.
  private def shardDelta(r: Run): Option[Long] = {
    val shardsN =
      if (fitted(r, shard)) {
        val frozen = readLongSidecar(r.spark, r.state, "shards").toInt
        requireFrozen(r, shard, "shards", r.state, s"shard count $frozen")(_.toInt == frozen)
        frozen
      } else {
        val n = r.opts.getOrElse("shards", "16").toInt
        writeLongSidecar(r.spark, r.state, "shards", n.toLong)
        n
      }
    writeShards(r, shardsN, s"${r.state}/shards/batch=${r.batch}")
  }

  /** merges= when given, else a model trained on the flowing frame. */
  private def mergesFor(r: Run): Array[(String, String)] = r.opts.get("merges") match {
    case Some(p) => Bpe.readMerges(r.spark, p)
    case None => Bpe.train(r.cur, r.opts.getOrElse("nmerges", "1000").toInt)
  }

  /** The BPE model as `dir/merges` then `dir/vocab`. */
  private def writeBpeModel(r: Run, merges: Array[(String, String)],
                            vocab: Array[String], dir: String): Unit = {
    Bpe.mergesTable(r.spark, merges).coalesce(1).write.mode("overwrite").parquet(s"$dir/merges")
    Bpe.vocabTable(r.spark, vocab).coalesce(1).write.mode("overwrite").parquet(s"$dir/vocab")
  }

  private def packFull(r: Run): Option[Long] = {
    val merges = mergesFor(r)
    val v = Bpe.vocab(merges, Bpe.alphabet(r.cur))
    writeBpeModel(r, merges, v, r.base)
    P.packTokens(r.cur, merges, v,
      r.opts.getOrElse("packbudget", "512").toInt,
      r.opts.getOrElse("buckets", "0").toInt)
      .write.mode("overwrite").parquet(s"${r.base}/packs")
    System.err.println("[graft] corpus-pipeline pack -> written")
    None
  }

  // per-batch CDC pack: packs never span batches (the pack window is
  // bucket-local), so each batch's packs land under
  // state/packs/batch=<id> and (batch, pack_id) is the composite
  // key. The BPE model and the layout knobs are FROZEN on the seed
  // pack batch (merges+vocab under state/pack, vocab/_SUCCESS the
  // commit point; budget/bucket-count/nmerges sidecars) so every
  // batch's token ids and pack shapes come from one contract. The
  // bucket COUNT is resolved at seed and frozen: a per-batch
  // re-suggestion would scatter the same doc_id across layouts.
  private def packDelta(r: Run): Option[Long] = {
    val pkState = s"${r.state}/pack"
    val pkMerges = s"$pkState/merges"
    val pkVocab = s"$pkState/vocab"
    val pkFitted = fitted(r, pack)
    def mergesFp(m: Array[(String, String)]): Long =
      m.foldLeft(17L) { case (acc, (l, rt)) =>
        val h = l.foldLeft(acc * 31 + 1)((x, c) => x * 31 + c)
        rt.foldLeft(h * 31 + 7)((x, c) => x * 31 + c)
      }
    val (merges, v, pb, bk) =
      if (pkFitted) {
        val pb = readLongSidecar(r.spark, pkState, "packbudget")
        requireFrozen(r, pack, "packbudget", pkState, s"budget $pb")(_.toLong == pb)
        val bk = readLongSidecar(r.spark, pkState, "packbuckets")
        requireFrozen(r, pack, "buckets", pkState, s"bucket count $bk")(_.toLong == bk)
        readLongSidecarIfExists(r.spark, pkState, "nmerges") match {
          case Some(f) => requireFrozen(r, pack, "nmerges", pkState, s"model's $f")(_.toLong == f)
          case None => r.opts.get("nmerges").foreach(_ => sys.error(
            s"incremental pack: the frozen model under $pkState came " +
              "from merges= (external) — nmerges= does not apply; " +
              "re-seed to train a model instead"))
        }
        val fm = Bpe.readMerges(r.spark, pkMerges)
        r.opts.get("merges").foreach { p =>
          val ext = Bpe.readMerges(r.spark, p)
          require(mergesFp(ext) == mergesFp(fm),
            s"incremental pack: merges=$p is not the frozen BPE model " +
              s"under $pkState — batches must pack under ONE model; " +
              "re-seed to change it")
        }
        (fm, Bpe.readVocab(r.spark, pkVocab), pb.toInt, bk.toInt)
      } else {
        val fm = mergesFor(r)
        val fv = Bpe.vocab(fm, Bpe.alphabet(r.cur))
        val budget0 = r.opts.getOrElse("packbudget", "512").toInt
        val buckets0 = P.resolvePackBuckets(r.cur, r.opts.getOrElse("buckets", "0").toInt)
        // sidecars FIRST; the vocab parquet's _SUCCESS is the
        // fitted-model commit point (written after merges so a
        // crash can never leave vocab without merges)
        writeLongSidecar(r.spark, pkState, "packbudget", budget0.toLong)
        writeLongSidecar(r.spark, pkState, "packbuckets", buckets0.toLong)
        // nmerges is frozen ONLY when training ran — it is the
        // reproducible training request. With merges= the
        // model is external and the CLI default (1000) never
        // described it, so freezing it would refuse a later
        // accurate nmerges= with a number from nowhere; the
        // sidecar's absence marks the model external instead
        if (r.opts.get("merges").isEmpty)
          writeLongSidecar(r.spark, pkState, "nmerges",
            r.opts.getOrElse("nmerges", "1000").toLong)
        writeBpeModel(r, fm, fv, pkState)
        System.err.println("[graft] corpus-pipeline pack: frozen BPE " +
          s"model (${fm.length} merges) + layout (budget=$budget0, " +
          s"buckets=$buckets0) fit on seed batch")
        (fm, fv, budget0, buckets0)
      }
    // characters the SEED never saw encode as -1 (UNK) under the
    // frozen vocab, so they warn LOUDLY (one distinct-chars
    // aggregate). Fitted batches only: the seed's vocab contains its
    // own alphabet by construction.
    if (pkFitted) {
      val vset = v.toSet
      val novel = Bpe.alphabet(r.cur).filterNot(vset)
      if (novel.nonEmpty)
        System.err.println("[graft] corpus-pipeline WARNING pack: " +
          s"${novel.size} character(s) absent from the frozen seed " +
          s"vocab (${novel.take(10).mkString("", "", if (novel.size > 10) "…" else "")}) " +
          "— their tokens encode as -1 (UNK) in this batch's packs; " +
          "re-seed the pack model if the corpus charset has drifted")
    }
    P.packTokens(r.cur, merges, v, pb, bk)
      .write.mode("overwrite")
      .parquet(s"${r.state}/packs/batch=${r.batch}")
    System.err.println("[graft] corpus-pipeline pack -> written " +
      s"(${r.state}/packs/batch=${r.batch})")
    None
  }

  // retrieval artifacts over the survivors as they stand at this
  // point in the DAG: a text index always, a vector index when
  // vectors= supplies the (id, vec) embeddings (semi-joined to
  // survivor ids). minrecall= fails an under-recalling layout HERE,
  // at build. The DAG's buckets= belongs to the pack window; both
  // index stores self-size their layout.
  private def indexFull(r: Run): Option[Long] = {
    r.args.textIndex(s"${r.base}/text_index").build(r.cur.select("doc_id", "text"))
    System.err.println("[graft] corpus-pipeline index -> text index built")
    r.opts.get("vectors") match {
      case Some(vp) =>
        val vecs = r.args.vectors(vp)
          .join(r.cur.select(col("doc_id").as("id")), Seq("id"), "left_semi")
        r.dagPqIndex(s"${r.base}/index")
          .build(vecs, minRecall = r.opts.getOrElse("minrecall", "0").toDouble)
        System.err.println("[graft] corpus-pipeline index -> vector index built")
      case None =>
        System.err.println(
          "[graft] corpus-pipeline index: vector side SKIPPED (no vectors=)")
    }
    None
  }

  // CDC-maintained retrieval artifacts under state/: whichever batch
  // runs `index` first SEEDS both indexes over the ACCUMULATED
  // survivors ∪ this batch (so the step can join an existing state
  // mid-stream); every later batch CDC-adds its own survivors under
  // the frozen models. The adds are keyed replaces, so replays stay
  // idempotent, and each batch indexes exactly what it appended to
  // state/survivors.
  private def indexDelta(r: Run): Option[Long] = {
    val cur = r.cur
    val tiDir = s"${r.state}/text_index"
    val viDir = s"${r.state}/index"
    val survPath = s"${r.state}/survivors"
    // completion markers: stats.txt is TextIndex.build's LAST
    // write, so its presence marks a committed build. The
    // vector side needs isBuilt (models on disk AND a committed
    // codes manifest): PqIndex.build writes models.txt BEFORE
    // the much longer full encode, and adopting a crashed seed
    // as "built" would CDC-add onto a store that never saw the
    // seed corpus — batches silently missing from serving.
    val tiBuilt = pathExists(r.spark, s"$tiDir/stats.txt")
    val viBuilt = r.dagPqIndex(viDir).isBuilt
    // the seed corpus: accumulated survivors EXCLUDING this
    // batch's own rows (a replay has already appended them —
    // the anti-join keeps the union duplicate-free), plus cur
    val survExists = pathExists(r.spark, survPath)
    def fullCorpus(): DataFrame =
      if (survExists)
        r.spark.read.parquet(survPath).select("doc_id", "lang", "text")
          .join(cur.select("doc_id"), Seq("doc_id"), "left_anti")
          .unionByName(cur.select("doc_id", "lang", "text"))
      else cur.select("doc_id", "lang", "text")
    val needFull = !tiBuilt || (r.opts.contains("vectors") && !viBuilt)
    // only persist (and thus only unpersist) a frame that is
    // NOT plan-identical to cur: with no prior survivors,
    // fullCorpus IS cur modulo a no-op projection, and Spark's
    // cache identity is the CANONICALIZED plan — persisting it
    // re-registers cur's own cache entry and the unpersist in
    // the finally would evict it, forcing the survivors write
    // after this stage to recompute the entire lineage from
    // raw input (observed at sf100: a 4.5M-doc seed re-ran
    // clean's near-dup shingling inside the survivors write)
    val full = if (needFull && survExists)
      Some(fullCorpus().persist(StorageLevel.MEMORY_AND_DISK)) else None
    def fullOrCur: DataFrame = full.getOrElse(fullCorpus())
    try {
      if (!tiBuilt) {
        r.args.textIndex(tiDir).build(fullOrCur.select("doc_id", "text"))
        System.err.println("[graft] corpus-pipeline index -> text index " +
          s"SEEDED over the accumulated survivors ($tiDir)")
      } else {
        r.args.textIndex(tiDir).add(cur.select("doc_id", "text"))
        System.err.println(s"[graft] corpus-pipeline index -> text index add ($tiDir)")
      }
      r.opts.get("vectors") match {
        case Some(vp) =>
          val scope = if (viBuilt) cur else fullOrCur
          val ids = scope.select(col("doc_id").as("id"))
          val vecs = r.args.vectors(vp).join(ids, Seq("id"), "left_semi")
          // a survivor the supplied embeddings don't cover is
          // silently absent from vector serving — the same gap
          // the vectors=-absent case below warns about, so a
          // PARTIAL vectors= must warn too (one anti-join
          // count next to the build/add it gates on)
          val uncovered = ids.join(r.args.vectors(vp), Seq("id"), "left_anti").count()
          if (uncovered > 0)
            System.err.println("[graft] corpus-pipeline WARNING index: " +
              s"$uncovered survivor(s) have no embedding in vectors=$vp — " +
              "they are MISSING from the vector side until an index-add " +
              "supplies them")
          if (!viBuilt) {
            try r.dagPqIndex(viDir).build(vecs,
              minRecall = r.opts.getOrElse("minrecall", "0").toDouble)
            catch { case e: Throwable =>
              // un-mark the failed seed: build leaves its
              // artifacts for diagnosis (the standalone
              // contract), but a replayed batch must RE-SEED,
              // not adopt a build that failed its recall floor
              // (or died mid-encode) and silently add onto it
              val mp = new Path(s"$viDir/models.txt")
              mp.getFileSystem(r.spark.sparkContext.hadoopConfiguration).delete(mp, false)
              throw e
            }
            System.err.println("[graft] corpus-pipeline index -> vector index " +
              s"SEEDED over the accumulated survivors ($viDir)")
          } else {
            r.dagPqIndex(viDir).add(vecs)
            System.err.println(s"[graft] corpus-pipeline index -> vector index add ($viDir)")
          }
        case None =>
          // an existing vector index a delta silently skips is
          // a serving gap, not a preference — say so loudly
          if (viBuilt)
            System.err.println("[graft] corpus-pipeline WARNING index: the " +
              s"vector index at $viDir exists but this batch passed no " +
              "vectors= — its survivors are MISSING from the vector side " +
              "until an index-add supplies their embeddings")
          else
            System.err.println(
              "[graft] corpus-pipeline index: vector side SKIPPED (no vectors=)")
      }
    } finally full.foreach(_.unpersist())
    None
  }
}
