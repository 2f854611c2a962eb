package graft.cli

import graft.pipeline.StateDir
import graft.pipeline.StateDir.pathExists
import graft.sources.DirSwap
import graft.streaming.SigIndex
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The dedup signature store ([[graft.streaming.SigIndex]]), the
  * one-command takedown over a DAG state dir, and the k=v store
  * reports for all three persistent stores:
  * {{{
  *   runMain graft.Main sig-delete in=<ids.parquet> index=<dir> [idcol=doc_id]
  *     # dedup-state takedown: clears the ids' band+sig rows so future near-copies of a
  *     # removed doc stop being suppressed against a ghost canonical; sig-vacuum after
  *   runMain graft.Main sig-compact|sig-vacuum index=<dir> [maxfiles= keep= agems=]
  *   runMain graft.Main takedown in=<ids.parquet> state=<dag state dir> [idcol=doc_id vacuum=true agems=0 leasettl= asof=<epoch ms>]
  *     # the ONE-command right-to-be-forgotten sweep: sig + text_index + index stores,
  *     # the accumulated state/survivors (a later seed rebuild would re-index the doc from
  *     # them), AND the content artifacts — state/shards (the doc's verbatim text rides the
  *     # sharded training layout) and state/packs (its BPE token ids are decodable via the
  *     # frozen vocab the same state dir ships). Runs under the state lease; vacuum=true
  *     # makes bytes unrecoverable now; each sweep journals its per-surface counts under
  *     # state/takedowns/ (the proof-of-removal record pipeline-stats renders)
  *   runMain graft.Main index-stats|text-index-stats|sig-stats index=<dir>   # k=v store report on stdout
  * }}} */
private[graft] object SigCommands {

  val commands: Map[String, Args.Command] = Map(
    // the dedup state's takedown path (the third store of the
    // right-to-be-forgotten sweep: index-delete removes the vectors,
    // text-index-delete the postings, sig-delete the near-dup
    // signatures — without it a taken-down doc keeps suppressing
    // its future near-copies as a ghost canonical). rowsOut = docs
    // actually removed (absent ids are a committed no-op — replays
    // are safe); run sig-vacuum after legally-binding takedowns.
    "sig-delete" -> { a =>
      val ids = a.spark.read.parquet(a.req("in"))
        .select(col(a.opts.getOrElse("idcol", "doc_id")))
      val (docs, bandRows) = sigIndex(a, a.req("index")).delete(ids)
      System.err.println(s"[graft] sig-delete: removed $docs doc(s), " +
        s"$bandRows band row(s)")
      a.done(ids.count(), docs)
    },
    "sig-compact" -> { a => a.done(0, sigIndex(a, a.req("index")).compact(a.maxFiles).toLong) },
    "sig-vacuum" -> { a =>
      a.done(0, sigIndex(a, a.req("index")).vacuum(a.vacuumKeep, a.vacuumAgeMs))
    },
    // ONE-COMMAND right-to-be-forgotten sweep over a DAG state dir:
    // every store a doc id can live in under state= is swept — sig
    // (future near-copies stop being suppressed against the ghost),
    // text_index, index, state/survivors (a later index SEED REBUILD
    // would re-index the doc from them), AND the CONTENT artifacts:
    // state/shards/batch=* carries the doc's VERBATIM TEXT, and
    // state/packs/batch=* its BPE token ids, decodable via the frozen
    // vocab the SAME state dir ships. Runs under the state lease
    // (takedown is a writer; racing a nightly batch would
    // interleave). Absent stores are skipped, absent ids are
    // committed no-ops — replays are safe. vacuum=true makes the
    // bytes unrecoverable immediately (keep=1, agems=, default 0 for
    // legally-binding removals). State-root dirs this build does not
    // recognize get a LOUD warning (a future stage adding a content
    // surface must not be silently skipped).
    //
    // Batch-dir trees (survivors, shards, packs) are plain parquet
    // (no manifest), so each touched batch dir is replaced whole by
    // graft.sources.DirSwap (every name it writes is dot-prefixed, so
    // the default PathFilter hides it from every reader), and a
    // repair pass at entry finishes whatever a crashed sweep left: a
    // completed rewrite goes live, an unfinished one is dropped and
    // redone. A re-run is idempotent end to end.
    //
    // Pack rewrite semantics: packs never span batches and the
    // (batch, pack_id) key is load-bearing for a training job, so a
    // touched pack KEEPS its pack_id and drops only the doomed
    // member — surviving members' ids are re-derived by re-encoding
    // their survivors text under the frozen model (BpeEncodeIds is
    // deterministic, so the kept segments are byte-identical to the
    // original encode; the flattened token_ids array records no
    // per-doc boundaries, which is why the rewrite re-encodes
    // instead of slicing). A pack whose every member is doomed
    // drops entirely. n_docs/n_tokens are recomputed. Requires the
    // frozen model (state/pack/vocab/_SUCCESS) whenever state/packs
    // exists — refused up front otherwise, before any store is
    // swept. Shard rewrites keep surviving rows VERBATIM (shard and
    // shard_pos included): a gap in shard_pos marks the removal,
    // and every surviving row keeps the position a training job may
    // have already checkpointed against.
    //
    // Each sweep writes a journal record under
    // state/takedowns/td=<order-independent id-set fingerprint>/
    // with per-surface removal counts — the operator's
    // proof-of-removal (pipeline-stats renders the totals); a
    // replayed takedown overwrites its OWN record (same fingerprint)
    // rather than double-counting.
    "takedown" -> { a =>
      val spark = a.spark
      val opts = a.opts
      val state = a.req("state")
      val ids = spark.read.parquet(a.req("in"))
        .select(col(opts.getOrElse("idcol", "doc_id")).as("doc_id"))
        .distinct().localCheckpoint()
      val nIds = ids.count()
      val ttl = opts.getOrElse("leasettl", StateDir.DefaultLeaseTtlMs.toString).toLong
      val removed = StateDir.withStateLease(spark, state, "takedown", ttl) { _ =>
        val fsT = new Path(state).getFileSystem(spark.sparkContext.hadoopConfiguration)
        def hpT(s0: String) = new Path(s0)
        // per-surface counts for the journal record
        var swSigDocs = 0L; var swSigBands = 0L; var swPostings = 0L
        var swVectors = 0L; var swSurvivors = 0L; var swShardRows = 0L
        var swPackMembers = 0L
        // finish whatever a crashed prior sweep left, before any read
        // of the batch-dir trees (see the takedown doc)
        Seq("survivors", "shards", "packs").map(t => hpT(s"$state/$t"))
          .filter(fsT.exists).foreach(DirSwap.repairAll(fsT, _))
        val doVacuum = opts.getOrElse("vacuum", "false").toBoolean
        val ageMs = opts.getOrElse("agems", "0").toLong
        // validate every layout up front (schema discovery / marker
        // checks only, no job), so each refusal below fires before
        // any store is swept — the refuse-before-work convention
        if (pathExists(spark, s"$state/survivors"))
          require(spark.read.parquet(s"$state/survivors").columns.contains("batch"),
            s"takedown: $state/survivors has a flat (non-batch=) layout — " +
              "this is a full-run output, not an incremental state dir; " +
              "full-run artifacts are regenerable: re-run the pipeline " +
              "on the cleaned corpus, or delete the survivors dir")
        if (pathExists(spark, s"$state/shards"))
          require(spark.read.parquet(s"$state/shards").columns.contains("batch"),
            s"takedown: $state/shards has a flat (non-batch=) layout — " +
              "this is a full-run output, not an incremental state dir; " +
              "re-run the shard stage on the cleaned corpus instead")
        if (pathExists(spark, s"$state/packs")) {
          require(spark.read.parquet(s"$state/packs").columns.contains("batch"),
            s"takedown: $state/packs has a flat (non-batch=) layout — " +
              "this is a full-run output, not an incremental state dir; " +
              "re-run the pack stage on the cleaned corpus instead")
          // pack rewrites re-encode surviving members under the
          // frozen model — without it the content sweep cannot be
          // completed, so refuse BEFORE the other stores are swept
          // (a half-swept takedown that then fails on packs would
          // leave the operator believing the doc is gone)
          require(pathExists(spark, s"$state/pack/vocab/_SUCCESS"),
            s"takedown: $state/packs exists but the frozen BPE model at " +
              s"$state/pack is missing or incomplete (no vocab/_SUCCESS) — " +
              "pack rows cannot be rewritten without it; restore the model " +
              "or delete the packs tree (it is regenerable from survivors)")
        }
        // warn LOUDLY on state-root surfaces this build does not
        // recognize: a future stage persisting per-doc content in a
        // new tree must fail the completeness claim visibly
        val knownSurfaces = Set("sig", "text_index", "index", "survivors",
          "shards", "packs", "pack", "scrub", "mix", "select", "langid",
          "decontaminate", "takedowns")
        if (pathExists(spark, state)) fsT.listStatus(hpT(state)).foreach { st0 =>
          val n = st0.getPath.getName
          if (st0.isDirectory && !n.startsWith(".") && !knownSurfaces(n))
            System.err.println(s"[graft] takedown WARNING: $state/$n is not a " +
              "surface this takedown build knows — if a newer pipeline stage " +
              "persists per-document content there, this sweep has NOT " +
              "removed it; verify the tree and extend the sweep")
        }
        if (pathExists(spark, s"$state/sig")) {
          val sig = sigIndex(a, s"$state/sig")
          val (d, b) = sig.delete(ids)
          swSigDocs = d; swSigBands = b
          if (doVacuum) sig.vacuum(1, ageMs)
          System.err.println(s"[graft] takedown: sig store -> $d doc(s), $b band row(s)")
        }
        if (pathExists(spark, s"$state/text_index/stats.txt")) {
          val ti = a.textIndex(s"$state/text_index")
          val p = ti.delete(ids)
          swPostings = p
          if (doVacuum) ti.vacuum(1, ageMs)
          System.err.println(s"[graft] takedown: text index -> $p posting row(s)")
        }
        // layout params are irrelevant to remove/vacuum (keyed store
        // ops resolve the recorded layout); default-constructed is fine
        val vi = new graft.similarity.PqIndex(spark, s"$state/index")
        if (vi.isBuilt) {
          val v = vi.remove(ids)
          swVectors = v
          if (doVacuum) vi.vacuum(1, ageMs)
          System.err.println(s"[graft] takedown: vector index -> $v vector(s)")
        }
        // one row-level sweep of a batch-dir tree: ONE discovery pass
        // finds the touched batch dirs (the batch= partition column)
        // and the doomed row count; each touched dir's kept rows are
        // materialized FULLY before the swap touches the files the
        // plan reads from. Returns the rows removed.
        def sweepRows(tree: String)(write: (DataFrame, String, String) => Unit): Long = {
          val root = s"$state/$tree"
          if (!pathExists(spark, root)) 0L
          else {
            val touched = spark.read.parquet(root).join(ids, Seq("doc_id"), "left_semi")
              .groupBy("batch").agg(count(lit(1)).as("n")).collect()
            touched.map(r => r.get(0).toString).sorted.foreach { b =>
              val p = s"$root/batch=$b"
              val kept = spark.read.parquet(p)
                .join(ids, Seq("doc_id"), "left_anti").localCheckpoint()
              DirSwap.swap(fsT, hpT(p))(dir => write(kept, p, dir.toString))
              kept.unpersist()
              System.err.println(s"[graft] takedown: $tree batch=$b rewritten")
            }
            touched.map(_.getLong(1)).sum
          }
        }
        swSurvivors = sweepRows("survivors") { (kept, _, stage) =>
          kept.write.mode("overwrite").parquet(stage)
        }
        // the sharded-training-layout CONTENT sweep: surviving rows
        // are kept verbatim (shard + shard_pos included — a gap
        // marks the removal; re-numbering would shift positions a
        // training job may have checkpointed against), and the
        // rewrite preserves the one-file-per-shard layout
        swShardRows = sweepRows("shards") { (kept, p, stage) =>
          val nsh = math.max(1,
            fsT.listStatus(hpT(p)).count(_.getPath.getName.startsWith("shard=")))
          kept.repartition(nsh, col("shard"))
            .sortWithinPartitions(col("shard"), col("shard_pos"))
            .write.mode("overwrite").partitionBy("shard").parquet(stage)
        }
        // the tokenized CONTENT sweep (see the takedown doc for the
        // keep-pack_id / re-encode rationale)
        val packsRoot = s"$state/packs"
        if (pathExists(spark, packsRoot)) {
          val membersAll = spark.read.parquet(packsRoot)
            .select(col("batch"), col("pack_id"),
              posexplode(col("doc_ids")).as(Seq("pos", "doc_id")))
          val touched = membersAll.join(ids, Seq("doc_id"), "left_semi")
            .groupBy("batch").agg(count(lit(1)).as("n")).collect()
          swPackMembers = touched.map(_.getLong(1)).sum
          if (touched.nonEmpty) {
            val merges = graft.functions.Bpe.readMerges(spark, s"$state/pack/merges")
            val vocab = graft.functions.Bpe.readVocab(spark, s"$state/pack/vocab")
            touched.map(r => r.get(0).toString).sorted.foreach { b =>
              val p = s"$packsRoot/batch=$b"
              val packs = spark.read.parquet(p)
              val members = packs.select(col("pack_id"),
                posexplode(col("doc_ids")).as(Seq("pos", "doc_id")))
              val touchedPacks = members.join(ids, Seq("doc_id"), "left_semi")
                .select("pack_id").distinct()
              // surviving members of touched packs re-encode from
              // their survivors text (same batch — packs never span
              // batches); a missing text is a corrupted state dir
              // and refuses loudly rather than writing a short pack
              val keptM = members
                .join(touchedPacks, Seq("pack_id"), "left_semi")
                .join(ids, Seq("doc_id"), "left_anti")
              require(pathExists(spark, s"$state/survivors/batch=$b"),
                s"takedown: packs batch=$b is touched but " +
                  s"$state/survivors/batch=$b does not exist — pack rows " +
                  "cannot be rewritten without the members' survivors text; " +
                  "the state dir is inconsistent (a pack batch always has a " +
                  "survivors batch in the incremental DAG)")
              val survTexts = spark.read
                .parquet(s"$state/survivors/batch=$b").select("doc_id", "text")
              val withText = keptM.join(survTexts, Seq("doc_id"), "left")
                .localCheckpoint()
              val missing = withText.filter(col("text").isNull).count()
              require(missing == 0L,
                s"takedown: $missing surviving pack member(s) of batch=$b have " +
                  s"no text under $state/survivors/batch=$b — pack rows cannot " +
                  "be rewritten without the members' survivors text; the state " +
                  "dir is inconsistent (packs exist for docs survivors never " +
                  "recorded)")
              val rebuilt = withText
                .select(col("pack_id"), col("pos"), col("doc_id"),
                  graft.functions.Bpe.bpeEncodeIds(col("text"), merges, vocab).as("ids"))
                .groupBy(col("pack_id"))
                .agg(array_sort(collect_list(struct(col("pos"), col("doc_id"), col("ids"))))
                  .as("items"))
                .select(col("pack_id"),
                  transform(col("items"), x => x.getField("doc_id")).as("doc_ids"),
                  flatten(transform(col("items"), x => x.getField("ids"))).as("token_ids"))
                .withColumn("n_docs", size(col("doc_ids")).cast("long"))
                .withColumn("n_tokens", size(col("token_ids")).cast("long"))
              // fully-doomed packs vanish (no surviving member rows);
              // untouched packs ride along verbatim
              val kept = packs.join(touchedPacks, Seq("pack_id"), "left_anti")
                .unionByName(rebuilt).localCheckpoint()
              DirSwap.swap(fsT, hpT(p))(dir => kept.write.mode("overwrite").parquet(dir.toString))
              kept.unpersist(); withText.unpersist()
              System.err.println(s"[graft] takedown: packs batch=$b rewritten")
            }
          }
        }
        val removed = swSigDocs + swPostings + swVectors + swSurvivors + swShardRows +
          swPackMembers
        // the proof-of-removal record: keyed by an order-independent
        // fingerprint of the id SET, so a replay overwrites its OWN
        // record instead of double-counting. Counts are CUMULATIVE
        // across replays (a replayed takedown removes 0 rows — it
        // must re-affirm the original removal totals, not erase
        // them with zeros); asof_ms is the LATEST request time.
        val fpRow = ids.agg(
          coalesce(sum(xxhash64(col("doc_id"))), lit(0L)),
          count(lit(1))).head()
        val fp = java.lang.Long.toHexString(
          fpRow.getLong(0) ^ (fpRow.getLong(1) * 0x9E3779B97F4A7C15L))
        val asofMs = opts.get("asof").map(_.toLong)
          .getOrElse(System.currentTimeMillis())
        val tdDir = s"$state/takedowns/td=$fp"
        // the record is replaced by the sweep's own swap, so a crash
        // ANYWHERE in the overwrite leaves the old record or the newer
        // cumulative one staged; repair adopts a staged record (it is
        // strictly newer) before the totals are read, never resetting
        // them to this replay's zeros
        DirSwap.repair(fsT, hpT(tdDir))
        val priorRow: Option[Row] =
          if (!pathExists(spark, s"$tdDir/_SUCCESS")) None
          else spark.read.parquet(tdDir).take(1).headOption
        val prior: Map[String, Long] = priorRow match {
          case None => Map.empty
          case Some(r) =>
            Seq("rows_removed", "sig_docs", "sig_band_rows", "posting_rows",
              "vectors", "survivor_rows", "shard_rows", "pack_members")
              .map(c => c -> r.getLong(r.fieldIndex(c))).toMap
        }
        // vacuumed is cumulative-OR like the counts: a replay without
        // vacuum= must RE-AFFIRM that the original removal vacuumed
        // the bytes, not erase the compliance-relevant fact
        val priorVacuumed = priorRow.exists(r =>
          r.getBoolean(r.fieldIndex("vacuumed")))
        def cum(c: String, v: Long) = lit(v + prior.getOrElse(c, 0L)).as(c)
        // prior counts were COLLECTED above (driver literals), so the
        // overwrite never reads the files it replaces
        DirSwap.swap(fsT, hpT(tdDir)) { dir =>
          spark.range(1).select(
            lit(fp).as("td_key"), lit(asofMs).as("asof_ms"),
            lit(nIds).as("n_ids"), cum("rows_removed", removed),
            cum("sig_docs", swSigDocs), cum("sig_band_rows", swSigBands),
            cum("posting_rows", swPostings), cum("vectors", swVectors),
            cum("survivor_rows", swSurvivors), cum("shard_rows", swShardRows),
            cum("pack_members", swPackMembers),
            lit(doVacuum || priorVacuumed).as("vacuumed"))
            .coalesce(1).write.mode("overwrite").parquet(dir.toString)
        }
        removed
      }
      a.done(nIds, removed)
    },
    "index-stats" -> storeStats _,
    "text-index-stats" -> storeStats _,
    "sig-stats" -> storeStats _)

  private def sigIndex(a: Args, dir: String) = new SigIndex(a.spark, dir, idCol = "doc_id")

  // observability for the three persistent stores: one k=v line
  // per field on stdout — the input to a compact/vacuum/re-seed
  // decision, without writing a probe program (rowsOut = fields).
  // One printer so the report format cannot fork across stores
  private def storeStats(a: Args) = {
    val kv = a.command match {
      case "index-stats" => a.pqIndex(a.req("index")).describe()
      case "text-index-stats" => a.textIndex(a.req("index")).describe()
      case _ => sigIndex(a, a.req("index")).describe()
    }
    kv.foreach { case (k0, v) => println(s"$k0=$v") }
    a.done(0, kv.size.toLong)
  }

}
