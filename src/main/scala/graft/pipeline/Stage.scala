package graft.pipeline

import graft.cli.Args
import graft.similarity.PqIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** One corpus-pipeline step: its name, its plan attributes, and its
  * two forms. `full` runs in a one-shot DAG over the whole input;
  * `delta` runs in the incremental (CDC) form over one batch against
  * the frozen state under `state=`. Each returns the docs the stage
  * records in `stats.json` — the frame's new count where it advanced
  * it, None for side-effect and skipped stages.
  *
  * @param mutatesFrame a frame-mutating stage drops or rewrites
  *   documents; the others (side-effect stages) emit whatever the
  *   frame holds when they run, so they must follow every
  *   frame-mutating stage in a plan
  * @param optIn never in a default plan
  * @param langKeyed groups or joins on `lang`, so it must follow
  *   `langid` when the input has no lang column
  * @param inIncrementalDefault in the plan an incremental run gets
  *   without `steps=`
  * @param fittedMarker the commit marker of the stage's frozen state,
  *   relative to `state=`: present exactly when the seed fit
  *   committed, so the stage and `pipeline-stats` agree on "fitted" */
final case class Stage(
    name: String,
    mutatesFrame: Boolean,
    full: Run => Option[Long],
    delta: Run => Option[Long],
    optIn: Boolean = false,
    langKeyed: Boolean = false,
    inIncrementalDefault: Boolean = false,
    fittedMarker: Option[String] = None)

/** Per-stage run record, accumulated into out/stats.json — the
  * record a scheduler checks without scraping stderr: docs where the
  * stage advanced the frame (absent for side-effect and skipped
  * stages), wall seconds ALWAYS (the curator's first question about a
  * slow nightly run), resumed=true when a prior run's persisted
  * output was adopted instead of recomputed. */
final case class StageRec(stage: String, docs: Option[Long], sec: Double,
                          resumed: Boolean = false)

/** The state one corpus-pipeline run threads through its stages: the
  * flowing frame, the run record, and the knobs every stage reads. */
final class Run(val args: Args, val base: String, val incremental: Boolean,
                stateDir: Option[String], batchId: Option[Long],
                val driftBand: Double, val raw: DataFrame) {
  val spark = args.spark
  val opts: Map[String, String] = args.opts
  /** The incremental state dir and replay key (incremental runs only). */
  def state: String = stateDir.get
  def batch: Long = batchId.get

  var cur: DataFrame = raw
  val recs = mutable.ArrayBuffer[StageRec]()
  // the mix budget actually applied, recorded in stats.json so a
  // scheduler can tell keep-all from a downsampling run
  var mixBudget: Option[Long] = None
  // incremental observability: realized per-batch rates of the
  // frozen-model stages, drift warnings against the seed calibration
  // and the cross-batch emergent-span count — what tells a healthy
  // 29.8%→27.4% drift from a pathological 29.8%→3% collapse
  val rates = mutable.LinkedHashMap[String, Double]()
  val driftWarnings = mutable.ArrayBuffer[String]()
  var scrubEmergent: Option[Long] = None
  // the clean stage's scratch pre-flight numbers, journaled so
  // runs-report can show predicted-vs-free and the operator
  // sizes the next batch without re-running the probe
  var scratchStats: Option[(Long, Long)] = None

  def lastDocs: Long = recs.reverseIterator
    .collectFirst { case r if r.docs.isDefined => r.docs.get }.get

  /** Make `next0` the flowing frame (persisted) and return its count. */
  def advance(next0: DataFrame): Long = {
    val next = next0.persist(StorageLevel.MEMORY_AND_DISK)
    val n = next.count()
    if (cur ne raw) cur.unpersist()
    cur = next
    n
  }

  // drift band: ±driftband RELATIVE to the seed calibration (default
  // ±25%). Advisory only (loud warning + stats.json field), never a
  // behavior change. `rebaseline` names a stage whose refit retires
  // the baseline with the old model: the first batch under the
  // re-fit model re-establishes it from its own realized rate.
  def checkDrift(key: String, stageState: String, sidecar: String, rate: Double,
                 rebaseline: Option[String] = None): Unit = {
    rebaseline.foreach { stage =>
      if (StateDir.readLongSidecarIfExists(spark, stageState, sidecar).isEmpty) {
        StateDir.writeLongSidecar(spark, stageState, sidecar, math.round(rate * 1e6))
        System.err.println(s"[graft] corpus-pipeline $stage: drift baseline " +
          f"re-established at $rate%.4f (first batch under a re-fit model)")
      }
    }
    rates += key -> rate
    StateDir.readLongSidecarIfExists(spark, stageState, sidecar).foreach { micro =>
      val seed = micro / 1e6
      if (seed > 0 && math.abs(rate - seed) / seed > driftBand) {
        val msg = f"$key rate drift: batch $rate%.4f vs seed calibration $seed%.4f"
        driftWarnings += msg
        System.err.println(s"[graft] corpus-pipeline WARNING $msg — the frozen " +
          "model may no longer fit the incoming data; re-seed to re-fit " +
          "(frozen-model discipline: drift is reported, never silently absorbed)")
      }
    }
  }

  // pqk=, not k=: the DAG's flat option namespace already gives
  // k= to the decontaminate shingle size, and a silent collision
  // would either degrade the codebook or (worse) turn
  // decontamination into 256-word shingles that match nothing —
  // the packbudget= lesson, applied before it bites
  def dagPqIndex(dir: String) = new PqIndex(spark, dir,
    dim = opts.getOrElse("dim", "64").toInt,
    m = opts.getOrElse("m", "8").toInt,
    k = opts.getOrElse("pqk", "16").toInt,
    nCells = opts.getOrElse("cells", "0").toInt,
    nProbe = opts.getOrElse("probe", "0").toInt,
    opq = opts.getOrElse("opq", "false").toBoolean,
    fitSampleN = opts.getOrElse("fitsample", "0").toInt)
}
