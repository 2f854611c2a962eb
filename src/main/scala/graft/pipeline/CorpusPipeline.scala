package graft.pipeline

import graft.cli.Args
import graft.pipeline.StateDir._
import graft.queries.PipelineQueries
import graft.sources.DirSwap
import graft.streaming.SigIndex
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** The curation DAG ([[Stages]]) and the commands that read or refit
  * its state:
  * {{{
  *   runMain graft.Main corpus-pipeline in=<docs.parquet> out=<dir> [steps=clean,decontaminate,scrub,select,mix,shard,pack
  *                                    evals= targets= k= minjaccard= frac= w= mindocs= budget= alpha= shards= merges= nmerges= packbudget= buckets=]
  *     (opt-in step `langid` ASSIGNS lang from the text — the entry stage for raw
  *      corpora without a lang column (tolerated exactly when the plan contains
  *      langid); profiles= supplies a (lang, text) slice, else the builtin table.
  *      Incremental: the profile table freezes under state/langid on the seed
  *      batch; a conflicting profiles= refuses)
  *   runMain graft.Main corpus-pipeline in=<delta.parquet> out=<dir> incremental=true state=<dir> batch=<id>
  *                                    [steps=clean,decontaminate,scrub,select,mix,shard,pack ... compactevery=N maxfiles= journalkeep=N
  *                                     leasettl=<ms> driftband=<frac>]
  *                                    # state/ (incremental) or out= (full runs) is guarded by an
  *                                    # exclusive-writer lease (.lease.txt): an overlapping batch/refit/full
  *                                    # run refuses naming the holder; a crashed holder's lease breaks after
  *                                    # leasettl (default 24h, 0 = manual only). The holder HEARTBEATS the
  *                                    # lease at every stage boundary, so the TTL measures inactivity, not
  *                                    # runtime — an active long batch is never broken mid-run.
  *                                    # driftband= widens/narrows the ±25% advisory drift band
  *                                    # frozen-share mix: the seed batch calibrates per-language keep thresholds
  *                                    # from its supply (budget= alpha= tokens=) and freezes them under state/mix;
  *                                    # deltas filter per-doc under the frozen table, unseen languages kept whole
  *                                    # (loud); per-batch supply evidence accrues for `mix-refit`
  *                                    # per-batch pack: the seed batch freezes the BPE model + layout under
  *                                    # state/pack; each batch's packs land at state/packs/batch=<id> —
  *                                    # (batch, pack_id) is the composite key; journalkeep=N prunes out/runs
  *                                    # CDC form: delta cleaned vs
  *                                    # state/sig, survivors/shards appended under state/.../batch=<id>; batch= is the
  *                                    # replay key; scrub and select fit FROZEN models on the first batch (hot-span
  *                                    # table under state/scrub; DSIR λ + calibrated threshold under state/select,
  *                                    # given targets=) and apply them per-doc to every later delta. Each batch's
  *                                    # run record also lands at out/runs/batch=<id>.json (stats.json = latest run
  *                                    # only), and compactevery=N compacts the accumulated stores (state/sig +
  *                                    # both index stores) on batches where batch % N == 0
  *     (opt-in step `index` builds out/text_index over the survivors, plus out/index
  *      when vectors=<(id,vec) parquet> is given — minrecall= applies the build-time
  *      floor; PQ knobs: dim= m= pqk= cells= probe= opq= fitsample= — pqk, because
  *      k= is the decontaminate shingle size in this namespace)
  *   runMain graft.Main runs-report   out=<pipeline out dir>   # render out/runs/batch=*.json as the per-batch trajectory table
  *   runMain graft.Main pipeline-stats state=<dir>  # describe() for the DAG state: fitted stages + frozen knobs +
  *                                                  # evidence batch counts + drift baselines + lease (metadata reads only)
  *   runMain graft.Main scrub-refit   state=<dir> [mindocs=]   # rebuild the frozen span table from accumulated evidence
  *   runMain graft.Main mix-refit     state=<dir> [budget= alpha=]  # re-calibrate the frozen mix thresholds from accumulated supply
  * }}} */
private[graft] object CorpusPipeline {

  val commands: Map[String, Args.Command] = Map(
    // the curation DAG — the data-pipeline analog of the tagging
    // scenario scheduler (reference scenario_scheduler.py): raw docs
    // flow through the planned stages with consistent intermediates.
    // Scrub PRECEDES select by design: boilerplate grams shift the
    // DSIR importance distribution, and with a template footer in
    // place selection measurably inverts (PipelineE2ESpec pins the
    // same ordering) — RefinedWeb's ordering. Stages whose inputs are
    // absent (evals=, targets=) are skipped with a loud line, and the
    // text column flows forward WITHOUT re-joins where the stage
    // allows it (clean/scrub emit text; the keep stages join survivor
    // ids back). incremental=true is the CDC form: the input is a
    // DELTA, and survivors/shards APPEND under per-batch dirs (batch=
    // is the replay key — re-running a batch overwrites its own dirs).
    "corpus-pipeline" -> { a =>
      val spark = a.spark
      val opts = a.opts
      val base = a.req("out")
      val incremental = opts.get("incremental").exists(_.toBoolean)
      val stateDir = opts.get("state")
      val batchId = opts.get("batch").map(_.toLong)
      if (incremental) {
        require(stateDir.isDefined, "incremental corpus-pipeline requires state=<dir>")
        require(batchId.isDefined,
          "incremental corpus-pipeline requires batch=<id> (the replay key)")
      }
      // resume=true (full runs): every completed stage persists its
      // output frame (or a .done marker) under out/stages/, and a
      // re-run restarts at the first INCOMPLETE stage — a crashed run
      // costs only its failed stage. An incremental batch's replay
      // unit is the batch itself, so resume refuses there.
      val resume = opts.get("resume").exists(_.toBoolean)
      require(!(incremental && resume),
        "resume= applies to full runs only — an incremental batch's replay " +
          "unit is the batch itself (re-run with the same batch=)")
      // validated up front (not at the maintenance site at the end of
      // the run): a misdirected knob must refuse before hours of
      // stages run, not after
      val compactEvery = opts.getOrElse("compactevery", "0").toLong
      require(compactEvery >= 0,
        s"compactevery=$compactEvery — negative disables nothing loudly; " +
          "use 0 (or omit) to turn maintenance off")
      require(compactEvery == 0 || incremental,
        "compactevery= applies to incremental runs — a full run rebuilds its " +
          "outputs; there is no accumulated store to maintain")
      // the drift band is a RELATIVE fraction of the seed rate
      // (0.25 = ±25%); nonsense refuses up front like every knob —
      // 0 would warn on every batch (noise), and the band is only
      // read by incremental stages (a full run has no seed baseline)
      val driftBand = opts.getOrElse("driftband", "0.25").toDouble
      require(driftBand > 0.0 && driftBand <= 10.0,
        s"driftband=$driftBand — must be a relative fraction in (0, 10] " +
          "(0.25 = warn when a batch rate leaves ±25% of the seed calibration)")
      require(!opts.contains("driftband") || incremental,
        "driftband= applies to incremental runs — drift is measured against " +
          "a frozen seed calibration, which only incremental state has")
      // maxfiles= is consumed at the maintenance site but must obey
      // the same rule as compactevery: a malformed or absurd value
      // refuses HERE, not after hours of stages (maxfiles=0 would
      // make every bucket "fat" and rewrite the whole store each
      // maintenance batch)
      val maintMaxFiles = a.maxFiles
      require(maintMaxFiles >= 1, s"maxfiles=$maintMaxFiles must be >= 1")
      // journal retention (incremental only, 0 = keep forever): the
      // vacuum retention pattern applied to out/runs — one file per
      // batch grows without bound on a long-lived nightly pipeline.
      // Same up-front rules as compactevery.
      val journalKeep = opts.getOrElse("journalkeep", "0").toInt
      require(journalKeep >= 0,
        s"journalkeep=$journalKeep — negative keeps nothing loudly; " +
          "use 0 (or omit) to keep every record")
      require(journalKeep == 0 || incremental,
        "journalkeep= applies to incremental runs — only they write a journal")
      val plan = Stages.plan(opts.get("steps"), incremental)
      // knob refusals above never touch the lease; everything below
      // mutates state= (incremental — the shared mutable thing) or
      // out= (a full run: two concurrent runs into one out= would
      // interleave stage outputs, each write atomic, the composition
      // corrupt), so the run holds an exclusive-writer lease on it.
      // A CRASHED run's lease also blocks resume=true — the recovery
      // path — until the TTL; the lease cannot tell a crash from a
      // live long stage, so a resuming operator gets the remedy
      // spelled out instead of a puzzle
      val resumeHint =
        if (!resume) ""
        else "\n(resume=true: if this lease belongs to the CRASHED run you " +
          "are resuming — you know it is dead, the lease does not — " +
          "delete the named file, or pass leasettl=1 to break it)"
      val leaseTtl = opts.getOrElse("leasettl", DefaultLeaseTtlMs.toString).toLong
      withStateLease(spark, if (incremental) stateDir.get else base, "corpus-pipeline",
          leaseTtl, resumeHint) { lease =>
        val tIn = System.nanoTime()
        val in0 = spark.read.parquet(a.req("in"))
        val raw = (if (in0.columns.contains("lang"))
            in0.select("doc_id", "lang", "text")
          else {
            Stages.requireLangSource(plan, a.req("in"))
            in0.select(col("doc_id"), lit(null).cast("string").as("lang"), col("text"))
          }).persist(StorageLevel.MEMORY_AND_DISK)
        val rowsIn = raw.count()
        val run = new Run(a, base, incremental, stateDir, batchId, driftBand, raw)
        run.recs += StageRec("input", Some(rowsIn), (System.nanoTime() - tIn) / 1e9)
        val completedPrefix = if (resume) resumePrefix(a, base, plan) else 0
        plan.zipWithIndex.foreach { case (stage, i) =>
          // stage-boundary heartbeat: the lease TTL measures
          // inactivity, not runtime — a long batch that keeps making
          // stage progress is never broken mid-run, while a crashed
          // or hung holder (no touch for a full ttl) still is
          heartbeatStateLease(spark, lease)
          val tStage = System.nanoTime()
          val resumed = i < completedPrefix
          val docs =
            if (resumed) adoptStage(run, stagePath(base, i, stage), stage)
            else {
              val d = (if (incremental) stage.delta else stage.full)(run)
              if (resume) commitStage(run, stagePath(base, i, stage), stage, d)
              d
            }
          // adopted stages already logged "-> resumed (N docs)"; a
          // second "-> N docs" line would read as a recompute
          if (!resumed) docs.foreach(n =>
            System.err.println(s"[graft] corpus-pipeline ${stage.name} -> $n docs"))
          run.recs += StageRec(stage.name, docs, (System.nanoTime() - tStage) / 1e9, resumed)
        }
        // incremental: survivors APPEND under a per-batch dir of the
        // state (overwrite of the batch's own dir = replay-idempotent;
        // reading state/survivors unions every committed batch via
        // partition discovery). Full run: the single survivors dir.
        val tSurv = System.nanoTime()
        val survivorsOut =
          if (incremental) s"${run.state}/survivors/batch=${run.batch}"
          else s"$base/survivors"
        run.cur.select("doc_id", "lang", "text")
          .write.mode("overwrite").parquet(survivorsOut)
        val rowsOut = run.cur.count()
        run.recs += StageRec("survivors", Some(rowsOut), (System.nanoTime() - tSurv) / 1e9)
        // compactevery=N (incremental only, 0 = off): every batch whose
        // batch % N == 0 compacts the stores the pipeline appends to
        // (state/sig, both index stores). Keyed on the REPLAY KEY, so a
        // replayed batch makes the same decision (compaction is
        // contents-neutral either way). Vacuum stays with the *-vacuum
        // commands: retention is an age-based decision, not hygiene.
        if (compactEvery > 0 && run.batch % compactEvery == 0) {
          val tM = System.nanoTime()
          val parts = scala.collection.mutable.ArrayBuffer[String]()
          val sigDir = s"${run.state}/sig"
          if (pathExists(spark, sigDir))
            parts += s"sig=${new SigIndex(spark, sigDir, idCol = "doc_id").compact(maintMaxFiles)}"
          val tiDir = s"${run.state}/text_index"
          if (pathExists(spark, s"$tiDir/stats.txt"))
            parts += s"text=${a.textIndex(tiDir).compact(maintMaxFiles)}"
          val viDir = s"${run.state}/index"
          if (run.dagPqIndex(viDir).isBuilt)
            parts += s"vec=${run.dagPqIndex(viDir).compact(maintMaxFiles)}"
          System.err.println("[graft] corpus-pipeline maintain -> compacted " +
            s"buckets ${parts.mkString(" ")} (compactevery=$compactEvery)")
          run.recs += StageRec("maintain", None, (System.nanoTime() - tM) / 1e9)
        }
        writeRunRecord(run, journalKeep)
        if (run.cur ne raw) run.cur.unpersist()
        raw.unpersist()
        a.done(rowsIn, rowsOut)
      }
    },
    // the journal reader: out/runs/batch=*.json rendered as the
    // per-batch trajectory table — walls, frozen-stage rates, drift
    // warnings. spark.read.json tolerates record evolution (a field
    // added later reads null); the collect is one row per batch.
    "runs-report" -> { a =>
      val spark = a.spark
      val runsDir = s"${a.req("out")}/runs"
      val rp = new Path(runsDir)
      val rfs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(rfs.exists(rp),
        s"no run journal at $runsDir — only incremental corpus-pipeline " +
          "runs write one (full runs rebuild out/ wholesale; see stats.json)")
      // bounded read: the report collects one row per journal file,
      // so an unbounded journal (no journalkeep= retention) must not
      // turn the reader into a driver OOM years later — refuse with
      // the retention knob named rather than half-render
      // (files Spark's reader skips — hidden, like the file system's
      // .crc checksums, or underscored — are not records)
      val nJournal = rfs.listStatus(rp).count { st =>
        val n = st.getPath.getName
        !n.startsWith(".") && !n.startsWith("_")
      }
      require(nJournal <= 100000,
        s"runs-report: $nJournal journal files under $runsDir — prune with " +
          "corpus-pipeline journalkeep=N (retention) before reporting")
      val df = spark.read.json(runsDir)
      def opt[T](r: Row, field: String): Option[T] =
        if (!r.schema.fieldNames.contains(field) || r.isNullAt(r.fieldIndex(field))) None
        else Some(r.getAs[T](field))
      // numeric reads tolerate whatever type inference picked: a
      // foreign writer emitting "sec":2 (no decimal point anywhere
      // in the column) infers LongType and a bare getAs[Double]
      // would throw on the unbox
      def num(r: Row, field: String): Option[Double] =
        opt[Any](r, field).collect { case n: java.lang.Number => n.doubleValue() }
      // guarded, not cast: a journal whose every record carries
      // "rates":null infers the column as StringType
      val rateKeys = df.schema.fields.find(_.name == "rates").map(_.dataType).collect {
        case st: StructType => st.fieldNames.toSeq.sorted
      }.getOrElse(Nil)
      val recs = df.collect()
        .sortBy(r => num(r, "batch").map(_.toLong).getOrElse(Long.MaxValue))
      val warnings = scala.collection.mutable.ArrayBuffer[(Long, String)]()
      // scratch column only when some record carries the pre-flight
      // numbers (a journal of scratchcheck=off batches stays narrow)
      val hasScratch = df.columns.contains("scratch_predicted_bytes")
      val header = Seq(f"${"batch"}%8s", f"${"in"}%12s", f"${"out"}%12s",
        f"${"wall_s"}%9s") ++ rateKeys.map(k => f"$k%14s") ++
        (if (hasScratch) Seq(f"${"scr_mb/free"}%16s") else Nil) ++
        Seq(f"${"drift"}%6s")
      println(header.mkString(" "))
      recs.foreach { r =>
        val batch = num(r, "batch").map(_.toLong).getOrElse(-1L)
        // collection.Seq, not the 2.13 immutable default: Spark
        // hands array columns back as mutable.ArraySeq
        val stages = opt[scala.collection.Seq[Row]](r, "stages").getOrElse(Nil)
        def stageDocs(name: String): Option[Long] =
          stages.find(s => opt[String](s, "stage").contains(name))
            .flatMap(s => num(s, "docs").map(_.toLong))
        val wall = stages.flatMap(s => num(s, "sec")).sum
        val rates =
          if (rateKeys.isEmpty) None else opt[Row](r, "rates")
        val drift = opt[scala.collection.Seq[String]](r, "drift_warnings").getOrElse(Nil)
        drift.foreach(w => warnings += batch -> w)
        val cells = Seq(f"$batch%8d",
          f"${stageDocs("input").map(_.toString).getOrElse("-")}%12s",
          f"${stageDocs("survivors").map(_.toString).getOrElse("-")}%12s",
          f"$wall%9.1f") ++
          rateKeys.map { k =>
            f"${rates.flatMap(rr => num(rr, k)).fold("-")(v => f"$v%.6f")}%14s"
          } ++
          (if (hasScratch)
            Seq(f"${num(r, "scratch_predicted_bytes").map(p =>
              f"${p / 1e6}%.1f/${num(r, "scratch_free_bytes")
                .fold(-1.0)(_ / 1e6)}%.0f").getOrElse("-")}%16s")
          else Nil) ++
          Seq(f"${if (drift.isEmpty) "-" else s"DRIFT(${drift.size})"}%6s")
        println(cells.mkString(" "))
      }
      warnings.foreach { case (b, w) => println(s"  [batch $b] $w") }
      a.done(recs.length.toLong, warnings.length.toLong)
    },
    // the k=v report for the frozen-model stages (the stores have
    // *-stats): fitted flags, frozen knobs, evidence batch counts,
    // drift baselines, interrupted-refit flags, lease holder. Metadata
    // reads only — safe against a state dir another writer leases; an
    // empty or missing state dir never crashes.
    "pipeline-stats" -> { a =>
      val spark = a.spark
      val state = a.req("state")
      val fs0 = new Path(state).getFileSystem(spark.sparkContext.hadoopConfiguration)
      def cntBatches(d: String): Long =
        if (!pathExists(spark, d)) 0L
        else fs0.listStatus(new Path(d)).count(_.getPath.getName.startsWith("batch=")).toLong
      val kv = scala.collection.mutable.ArrayBuffer[(String, String)]()
      // a frozen sidecar `<dir>/<name>.txt` under state=, reported as
      // key=value (micro-scaled values as fractions) when present
      def sc(key: String, dir: String, name: String, micro: Boolean = false): Unit =
        readLongSidecarIfExists(spark, s"$state/$dir", name).foreach(v =>
          kv += key -> (if (micro) (v / 1e6).toString else v.toString))
      // <stage>_fitted keys on the SAME commit marker the stage itself
      // checks (the stage table's fittedMarker — the select threshold
      // sidecar is written first and must not read as fitted alone),
      // so the report can never contradict what the next batch will do
      def fitted(s: Stage): Boolean = {
        val f = pathExists(spark, s"$state/${s.fittedMarker.get}")
        kv += s"${s.name}_fitted" -> f.toString
        f
      }
      kv += "state" -> state
      val leasePath = new Path(s"$state/$LeaseFile")
      // open-then-catch, not exists-then-open: a writer releasing
      // between the two calls must read as free, not crash the
      // report that documents itself safe to run against a leased dir
      kv += "lease" -> readLeaseText(spark, leasePath).getOrElse("free")
      // with stage-boundary heartbeats (r13) the lease file's mtime
      // is the holder's LIVENESS signal, so its age is the first
      // thing an operator wants next to the holder line: a small age
      // = actively progressing, an age near leasettl = crashed or
      // hung (the break is imminent)
      try {
        val st = fs0.getFileStatus(leasePath)
        kv += "lease_age_s" ->
          ((System.currentTimeMillis() - st.getModificationTime) / 1000).toString
      } catch { case _: java.io.IOException => () }
      kv += "clean_sig_index" -> pathExists(spark, s"$state/sig").toString
      fitted(Stages.decontaminate)
      sc("decontaminate_shinglek", "decontaminate", "shinglek")
      sc("decontaminate_minj", "decontaminate", "minjmicro", micro = true)
      sc("decontaminate_evals_fingerprint", "decontaminate", "fingerprint")
      fitted(Stages.langid)
      sc("langid_profiles_fingerprint", "langid", "fingerprint")
      fitted(Stages.select)
      sc("select_threshold_milli", "select", "threshold")
      sc("select_frac", "select", "fracmicro", micro = true)
      sc("select_seed_keep", "select", "seedkeepmicro", micro = true)
      // interrupted = the state the refusal guard keys on: a parked
      // generation WITHOUT a live one (DirSwap.interrupted). A swap
      // that crashed after its staged dir went live is healthy, not
      // interrupted — flagging it would tell the operator to re-run
      // a refit the model doesn't need
      if (!fitted(Stages.scrub) && swapInterrupted(spark, s"$state/scrub/spans"))
        kv += "scrub_interrupted_refit" -> "true"
      sc("scrub_w", "scrub", "chunkwords")
      sc("scrub_mindocs", "scrub", "mindocs")
      sc("scrub_seed_hit", "scrub", "seedhitmicro", micro = true)
      kv += "scrub_freq_batches" -> cntBatches(s"$state/scrub/freq").toString
      kv += "scrub_emergent_evidence" -> pathExists(spark, s"$state/scrub/emergent").toString
      val thrDir = s"$state/mix/thresholds"
      if (fitted(Stages.mix)) {
        val mk = readKnobsFile(spark, thrDir)
        kv += "mix_budget" -> mk("budget").toString
        kv += "mix_alpha" -> (mk("alphamicro") / 1e6).toString
        kv += "mix_tokens" -> (if (mk("bpemode") == 1L) "bpe" else "pre")
      }
      if (swapInterrupted(spark, thrDir))
        kv += "mix_interrupted_refit" -> "true"
      sc("mix_seed_keep", "mix", "seedkeepmicro", micro = true)
      kv += "mix_supply_batches" -> cntBatches(s"$state/mix/supply").toString
      fitted(Stages.pack)
      sc("pack_budget", "pack", "packbudget")
      sc("pack_buckets", "pack", "packbuckets")
      sc("pack_bpe_nmerges", "pack", "nmerges")
      kv += "pack_batches" -> cntBatches(s"$state/packs").toString
      readLongSidecarIfExists(spark, state, "shards").foreach(v =>
        kv += "shard_count" -> v.toString)
      kv += "shard_batches" -> cntBatches(s"$state/shards").toString
      kv += "survivors" -> pathExists(spark, s"$state/survivors").toString
      kv += "text_index" -> pathExists(spark, s"$state/text_index").toString
      kv += "vector_index" -> pathExists(spark, s"$state/index").toString
      // takedown journal: the proof-of-removal totals without
      // re-scanning any store (records are 1-row parquets — reading
      // them all is metadata-scale)
      if (pathExists(spark, s"$state/takedowns")) {
        val td = spark.read.parquet(s"$state/takedowns")
          .agg(count(lit(1)), coalesce(sum(col("n_ids")), lit(0L)),
            coalesce(sum(col("rows_removed")), lit(0L))).head()
        kv += "takedown_records" -> td.getLong(0).toString
        kv += "takedown_ids" -> td.getLong(1).toString
        kv += "takedown_rows_removed" -> td.getLong(2).toString
      }
      kv.foreach { case (k0, v) => println(s"$k0=$v") }
      a.done(0, kv.size.toLong)
    },
    // the EXPLICIT re-fit the emergent-span report points at: rebuild
    // the frozen hot-span table from the ACCUMULATED per-batch span
    // frequencies under state/scrub/freq (summing df across
    // doc-disjoint batches IS the union corpus's distinct-doc count)
    // — one groupBy, the corpus text is never re-read. Models change
    // only by operator decision, and govern FUTURE batches. mindocs=
    // may change; w= cannot (the evidence was chunked at the frozen
    // width). The stale drift baseline retires with the old model.
    "scrub-refit" -> { a =>
      val spark = a.spark
      val scrState = s"${a.req("state")}/scrub"
      val spansPath = s"$scrState/spans"
      // refits mutate the same frozen-model state the incremental
      // batches read AND write — same exclusive-writer lease
      val ttl = a.opts.getOrElse("leasettl", DefaultLeaseTtlMs.toString).toLong
      withStateLease(spark, a.req("state"), "scrub-refit", ttl) { _ =>
        // a refit that crashed mid-swap is finished first (its staged
        // spans go live, or the parked ones come back), so a model
        // that still exists is found at spansPath
        val fs = new Path(spansPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
        DirSwap.repair(fs, new Path(spansPath))
        require(pathExists(spark, s"$spansPath/_SUCCESS"),
          s"scrub-refit: no frozen scrub model under $scrState — seed one with " +
            "corpus-pipeline incremental=true steps=...,scrub first")
        require(pathExists(spark, s"$scrState/freq"),
          s"scrub-refit: no accumulated span frequencies under $scrState/freq " +
            "(written by every incremental scrub batch) — nothing to re-fit from")
        val frozenW = readLongSidecar(spark, scrState, "chunkwords")
        a.opts.get("w").foreach(v => require(v.toLong == frozenW,
          s"scrub-refit: w=$v conflicts with the frozen chunk width $frozenW — " +
            "the accumulated evidence was chunked at that width; re-seed to change it"))
        val md = a.opts.get("mindocs").map(_.toLong)
          .getOrElse(readLongSidecar(spark, scrState, "mindocs"))
        val oldN = spark.read.parquet(spansPath).count()
        val hot = PipelineQueries.hotSpansFromFreq(
          spark.read.parquet(s"$scrState/freq")
            .groupBy("h").agg(sum("df").as("df")), md.toInt)
        // a refit REPLACES a live model, so an overwrite onto
        // spansPath that crashes mid-write would leave fitted=false
        // and the next batch would silently RE-SEED from its single
        // delta. The swap keeps a generation at every step; the drift
        // baseline and emergent evidence retire only AFTER it.
        DirSwap.swap(fs, new Path(spansPath)) { dir =>
          import spark.implicits._
          hot.toSeq.toDF("h").coalesce(1).write.mode("overwrite").parquet(dir.toString)
        }
        writeLongSidecar(spark, scrState, "mindocs", md)
        // the stale drift baseline retires with the old model; the
        // emergent evidence is now incorporated — a stale report
        // would read as still-unscrubbed templates
        rm(a, s"$scrState/seedhitmicro.txt")
        rm(a, s"$scrState/emergent")
        System.err.println(s"[graft] scrub-refit: ${oldN} -> ${hot.length} spans " +
          s"(mindocs=$md) from the accumulated batch frequencies")
        a.done(oldN, hot.length.toLong)
      }
    },
    // the mix model's explicit re-calibration, scrub-refit's shape:
    // rebuild the frozen per-language thresholds from the ACCUMULATED
    // supply evidence under state/mix/supply — no corpus text re-read.
    // budget= and alpha= may change; the token DENOMINATION cannot
    // (the evidence was counted in it). The refit governs FUTURE
    // batches.
    "mix-refit" -> { a =>
      val spark = a.spark
      val mixState = s"${a.req("state")}/mix"
      val thrPath = s"$mixState/thresholds"
      val ttl = a.opts.getOrElse("leasettl", DefaultLeaseTtlMs.toString).toLong
      withStateLease(spark, a.req("state"), "mix-refit", ttl) { _ =>
        // an interrupted previous refit is finished first, so its
        // surviving generation's knobs are read at thrPath
        val fs = new Path(thrPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
        DirSwap.repair(fs, new Path(thrPath))
        require(pathExists(spark, s"$thrPath/$KnobsFile"),
          s"mix-refit: no frozen mix model under $mixState — seed one with " +
            "corpus-pipeline incremental=true steps=...,mix budget=... first")
        require(pathExists(spark, s"$mixState/supply"),
          s"mix-refit: no accumulated supply under $mixState/supply " +
            "(written by every incremental mix batch) — nothing to re-fit from")
        val oldKnobs = readKnobsFile(spark, thrPath)
        a.opts.get("tokens").foreach { v =>
          require((if (v == "bpe") 1L else 0L) == oldKnobs("bpemode"),
            s"mix-refit: tokens=$v conflicts with the frozen denomination — " +
              "the accumulated supply was counted in it; re-seed to change it")
        }
        val budget = a.opts.get("budget").map(_.toLong).getOrElse(oldKnobs("budget"))
        val alpha = a.opts.get("alpha").map(_.toDouble)
          .getOrElse(oldKnobs("alphamicro") / 1e6)
        // isNotNull: evidence written before r12's caller-side filter
        // may carry a null-lang row — it has no share (kept-whole
        // contract) and would NPE mixKeepPoints' String sort
        val supply = spark.read.parquet(s"$mixState/supply")
          .filter(col("lang").isNotNull)
          .groupBy("lang").agg(sum("lang_tokens").as("lang_tokens"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
        val oldN = spark.read.parquet(thrPath).count()
        val thr = PipelineQueries.mixKeepPoints(supply, budget, alpha)
        // the stale drift baseline retires BEFORE the swap: a crash
        // in the swap window leaves the OLD model baseline-less (the
        // next batch re-establishes it — advisory only), never the
        // NEW model judged against the retired baseline
        rm(a, s"$mixState/seedkeepmicro.txt")
        // the swap (the scrub-refit discipline): a mid-refit crash
        // never leaves fitted=false, and a crash while thrPath is
        // parked is one the incremental mix REFUSES on (never a silent
        // re-seed) until a re-run mix-refit repairs it. The knobs file
        // rides INSIDE the swapped dir, so thresholds AND knobs go
        // live in one rename — no window where new thresholds are
        // live under the old budget/alpha (r11 review finding).
        DirSwap.swap(fs, new Path(thrPath)) { dir =>
          import spark.implicits._
          thr.toDF("lang", "keep_points").coalesce(1)
            .write.mode("overwrite").parquet(dir.toString)
          writeKnobsFile(spark, dir.toString, Seq(
            "budget" -> budget,
            "alphamicro" -> math.round(alpha * 1e6),
            "bpemode" -> oldKnobs("bpemode")))
        }
        System.err.println(s"[graft] mix-refit: $oldN -> ${thr.size} language " +
          s"thresholds (budget=$budget alpha=$alpha) from the accumulated " +
          "batch supplies")
        a.done(oldN, thr.size.toLong)
      }
    })

  private def stagePath(base: String, i: Int, s: Stage) = s"$base/stages/${i}_${s.name}"

  // resume bookkeeping: the plan record refuses a resume whose
  // steps/knobs differ from the crashed run's (silently composing
  // half-old half-new stage outputs would be worse than starting
  // over), then the completed prefix is the run of stages whose
  // output parquet (_SUCCESS) or .done marker committed
  private def resumePrefix(a: Args, base: String, plan: Seq[Stage]): Int = {
    val stagesDir = s"$base/stages"
    val planKey = plan.map(_.name).mkString(",") + " | " + a.opts.toSeq
      .filterNot { case (k, _) => k == "out" || k == "resume" }
      .sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" ")
    val planPath = s"$stagesDir/plan.txt"
    val prefix =
      if (pathExists(a.spark, planPath)) {
        val prior = readTextFile(a.spark, planPath).trim
        require(prior == planKey,
          s"resume=true but the prior run's plan differs:\n  prior: $prior\n" +
            s"  this:  $planKey\n— delete $stagesDir to start clean")
        plan.zipWithIndex.takeWhile { case (s, i) =>
          pathExists(a.spark, s"${stagePath(base, i, s)}/_SUCCESS") ||
            pathExists(a.spark, s"${stagePath(base, i, s)}.done")
        }.size
      } else {
        writeTextFileAtomic(a.spark, planPath, planKey + "\n")
        0
      }
    if (prefix > 0)
      System.err.println("[graft] corpus-pipeline resume: adopting completed " +
        s"stages ${plan.take(prefix).map(_.name).mkString(",")} from $stagesDir")
    prefix
  }

  /** Adopt a completed stage of a prior run instead of recomputing it. */
  private def adoptStage(run: Run, dir: String, stage: Stage): Option[Long] = {
    val spark = run.spark
    // a transform stage that advanced left its output parquet;
    // a side-effect/no-op stage left only .done and the frame
    // flows through unchanged
    val docs =
      if (pathExists(spark, s"$dir/_SUCCESS")) Some(run.advance(spark.read.parquet(dir)))
      // a KEEP-ALL mix / skipped transform left only .done; the
      // marker body carries the count the original run recorded
      // (empty for side-effect stages and pre-existing markers)
      else if (pathExists(spark, s"$dir.done"))
        scala.util.Try(readTextFile(spark, s"$dir.done").trim.toLong).toOption
      else None
    // an adopted mix stage ran under THIS plan's budget= (plan
    // conflicts refuse in resumePrefix), so the run record must carry it
    // — a null here would misread as keep-all
    if (stage == Stages.mix) run.mixBudget = run.opts.get("budget").map(_.toLong)
    System.err.println(s"[graft] corpus-pipeline ${stage.name} -> resumed" +
      docs.map(n => s" ($n docs)").getOrElse(""))
    docs
  }

  // commit this stage's resume artifact: the transformed
  // frame where the stage advanced it, a bare marker where
  // the frame flowed through (side-effect/no-op stages) —
  // the parquet _SUCCESS / .done file is the completion mark
  // the next resume scans for
  private def commitStage(run: Run, dir: String, stage: Stage, docs: Option[Long]): Unit =
    if (stage.mutatesFrame && docs.isDefined &&
        !(stage == Stages.mix && run.mixBudget.isEmpty))
      run.cur.select("doc_id", "lang", "text").write.mode("overwrite").parquet(dir)
    // the marker carries the stage's doc count (empty for
    // side-effect stages, which record none) so a resumed run
    // re-records what the original run recorded — a scheduler
    // diffing consecutive stats.json records must not see a
    // KEEP-ALL mix's count disappear on replay
    else writeTextFileAtomic(run.spark, s"$dir.done",
      docs.map(_.toString + "\n").getOrElse(""))

  /** out/stats.json (the latest run), plus the per-batch journal
    * record of an incremental run. */
  private def writeRunRecord(run: Run, journalKeep: Int): Unit = {
    // incremental runs also record their replay key: a scheduler
    // auditing state/.../batch=* dirs can tie each run record to
    // its batch without parsing stderr
    val batchField =
      if (run.incremental) s""""batch":${run.batch},""" else ""
    // walls at ms resolution, rates at 1e-6 (Double.toString —
    // locale-safe, valid JSON including any exponent form)
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    val ratesField =
      if (run.rates.isEmpty) ""
      else run.rates.map { case (k, v) => s""""$k":${math.rint(v * 1e6) / 1e6}""" }
        .mkString(""""rates":{""", ",", "},")
    val driftField =
      if (run.driftWarnings.isEmpty) ""
      else run.driftWarnings.map(m => "\"" + m.replace("\"", "'") + "\"")
        .mkString(""""drift_warnings":[""", ",", "],")
    val emergentField =
      run.scrubEmergent.map(n => s""""scrub_emergent_spans":$n,""").getOrElse("")
    val scratchField = run.scratchStats.map { case (p, f) =>
      s""""scratch_predicted_bytes":$p,"scratch_free_bytes":$f,""" }.getOrElse("")
    val stagesJson = run.recs.map { r =>
      s"""{"stage":"${r.stage}"""" +
        r.docs.map(d => s""","docs":$d""").getOrElse("") +
        s""","sec":${r3(r.sec)}""" +
        (if (r.resumed) ""","resumed":true""" else "") + "}"
    }.mkString("[", ",", "]")
    val statsJson =
      s"""{$batchField"mix_budget_tokens":${
        run.mixBudget.map(_.toString).getOrElse("null")},""" +
        ratesField + driftField + emergentField + scratchField +
        s""""stages":$stagesJson}"""
    // through Hadoop's FileSystem like every other output under out=,
    // so an HDFS or object-store out= holds its own run record
    writeTextFileAtomic(run.spark, s"${run.base}/stats.json", statsJson + "\n")
    // incremental: the SAME record also lands under out/runs/
    // batch=<id>.json — stats.json only holds the LATEST run, and the
    // drift trajectory needs every batch. A replay overwrites its own
    // record: the journal records batches, not executions.
    if (run.incremental) {
      val runsDir = s"${run.base}/runs"
      writeTextFileAtomic(run.spark, s"$runsDir/batch=${run.batch}.json", statsJson + "\n")
      // retention: keep the journalkeep NEWEST batch ids (by id,
      // not mtime — a replayed old batch must not evict a newer
      // record). Foreign files that don't parse as batch=<n>.json
      // are left alone.
      if (journalKeep > 0) {
        val rp = new Path(runsDir)
        val fs = rp.getFileSystem(run.spark.sparkContext.hadoopConfiguration)
        val evict = fs.listStatus(rp).toSeq
          .flatMap { st =>
            val n = st.getPath.getName
            if (n.startsWith("batch=") && n.endsWith(".json"))
              scala.util.Try(
                n.stripPrefix("batch=").stripSuffix(".json").toLong)
                .toOption.map(_ -> st.getPath)
            else None
          }.sortBy(-_._1).drop(journalKeep)
        evict.foreach { case (_, p) => fs.delete(p, false) }
        if (evict.nonEmpty)
          System.err.println(s"[graft] corpus-pipeline journal: pruned " +
            s"${evict.size} record(s) (journalkeep=$journalKeep)")
      }
    }
  }

  private def rm(a: Args, p: String): Unit = {
    val hp = new Path(p)
    hp.getFileSystem(a.spark.sparkContext.hadoopConfiguration).delete(hp, true)
  }

}
