package graftbench

import org.apache.spark.graftbench.{Cpu, Tracer}
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, in one JVM. `run.py` starts it;
  * the last stdout line is `GRAFTBENCH <json>` with the raw counts and
  * metrics of the run.
  *
  * Protocol, per run:
  *  1. set-up (timed as `setup_s`): session start, then the workload's
  *     starting state built `SetupReps` times (the first build is the
  *     warm-up); the median build counts. The last build is the
  *     pristine copy every pass starts from.
  *  2. timed phase: `nOps` closed-loop ops from one client. Restores
  *     and output checks run between ops and are not timed.
  *  3. a traced run (`--trace 1`) runs the timed phase twice from the
  *     pristine copy — untraced, then traced — and reports only the
  *     per-layer metrics, with the traced/untraced wall ratio.
  */
object BenchMain {
  val SetupReps = 2

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val cores = req("cores").toInt
    val work = req("work")
    require(Fs.print(work).isEmpty, s"work dir $work must start empty")
    val traced = req("trace") == "1"

    val t0 = System.nanoTime()
    System.setProperty("derby.system.home", s"$work/derby")
    val spark = graft.Sessions.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    log(f"session started in $sessionS%.3f s")

    val out = try {
      val ctx = new Ctx(spark, req("inputs"), work, req("seconds").toInt,
        opts.get("fail-op").map(_.toInt).getOrElse(-1))
      val w: Workload = req("workload") match {
        case "tag_full" => new TagFull(ctx)
        case "tag_delta" => new TagDelta(ctx)
        case "curate_cdc" => new CurateCdc(ctx)
        case "serve_hybrid" => new ServeHybrid(ctx)
        case other => sys.error(s"unknown workload $other")
      }
      run(ctx, w, sessionS, traced)
    } finally spark.stop()
    println("GRAFTBENCH " + out)
    log("done")
  }

  /** Progress on stderr, stamped with the JVM's uptime. */
  def log(msg: String): Unit = System.err.println(
    f"[graftbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f] $msg")

  final case class Pass(lat: Seq[Double], cpu: Double, rows: Long, failed: Int,
                        errors: Seq[String]) {
    def wall: Double = lat.sum
  }

  def run(ctx: Ctx, w: Workload, sessionS: Double, traced: Boolean): String = {
    val builds = (1 to SetupReps).map { r =>
      val dir = s"${ctx.work}/setup$r"
      val t = System.nanoTime()
      w.setup(dir)
      val s = (System.nanoTime() - t) / 1e9
      log(f"setup build $r: $s%.3f s")
      if (r < SetupReps) { w.release(); Fs.delete(dir) }
      s
    }
    val pristine = s"${ctx.work}/setup$SetupReps"
    val warmS = { val t = System.nanoTime(); w.warmup(pristine); (System.nanoTime() - t) / 1e9 }
    val setupS = sessionS + Stats.median(builds) + warmS
    val nOps = math.max(w.minOps, math.round(ctx.seconds / w.nominalOpS).toInt)

    val base = pass(ctx, w, pristine, nOps, traced = false)
    val (metrics, result) =
      if (!traced) {
        val live = w.liveDir(pristine)
        val m = Map(
          "setup_s" -> setupS,
          "wall_s" -> base.wall,
          "op_p50_s" -> Stats.median(base.lat),
          "rows_per_s" -> base.rows / base.wall,
          "cpu_s" -> base.cpu,
          "peak_rss_mb" -> Rss.peakMb,
          "store_bytes_per_row" -> w.storeBytes(live).toDouble / w.liveRows(live),
          "ops_failed_frac" -> base.failed.toDouble / nOps) ++ w.extraEndToEnd
        (m, base)
      } else {
        val tracer = new Tracer(ctx.spark.sparkContext)
        ctx.tracer = Some(tracer)
        val tp = pass(ctx, w, pristine, nOps, traced = true)
        tracer.flush()
        ctx.tracer = None
        (layerMetrics(ctx, tracer, tp.wall, base.wall), tp)
      }
    log("timed phase done")
    val endErrors = w.endCheck(w.liveDir(pristine))
    log("end check done")
    // a traced run attempts every op twice: untraced, then traced
    val (attempted, failed, opErrors) =
      if (traced) (2 * nOps, base.failed + result.failed, base.errors ++ result.errors)
      else (nOps, base.failed, base.errors)
    val errs = opErrors ++ endErrors
    val fields = Seq(
      "workload" -> Json.str(w.name),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "correct" -> (errs.isEmpty && failed == 0).toString,
      "errors" -> errs.map(Json.str).mkString("[", ",", "]"),
      "op_count" -> nOps.toString,
      "op_latencies_s" -> result.lat.map(Json.num).mkString("[", ",", "]"),
      "setup_builds_s" -> builds.map(Json.num).mkString("[", ",", "]"),
      "session_s" -> Json.num(sessionS),
      "warmup_s" -> Json.num(warmS),
      "metrics" -> metrics.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}"))
    fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
  }

  /** One timed phase from the pristine state. */
  def pass(ctx: Ctx, w: Workload, pristine: String, nOps: Int, traced: Boolean): Pass = {
    w.startPass(pristine)
    val lat = Seq.newBuilder[Double]
    val errors = Seq.newBuilder[String]
    var cpu = 0.0
    var rows = 0L
    var failed = 0
    for (i <- 0 until nOps) {
      w.beforeOp(i)
      val c0 = Cpu.seconds
      val t0 = System.nanoTime()
      val ok = try {
        if (i == ctx.failOp) sys.error(s"injected failure in op $i")
        w.op(i, traced)
        true
      } catch {
        case e: Exception =>
          errors += s"op $i threw: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          false
      }
      val l = (System.nanoTime() - t0) / 1e9
      log(f"${if (traced) "traced " else ""}op $i: $l%.3f s ok=$ok")
      lat += l
      cpu += Cpu.seconds - c0
      val problems = if (ok) w.check(i) else Nil
      if (ok) rows += w.rowsPerOp(i)
      errors ++= problems.map(p => s"op $i: $p")
      if (!ok || problems.nonEmpty) failed += 1
    }
    Pass(lat.result(), cpu, rows, failed, errors.result())
  }

  /** Spans whose counters every traced run reports (zero when the
    * workload never calls into that layer). */
  val SpanNames: Seq[String] = Seq(
    "rules.catalog_load", "sources.quality_gate", "engine.tag_assignments",
    "merge.memory_merge", "merge.merge_existing", "sources.snapshot_keys",
    "sources.snapshot_upsert", "sources.snapshot_validate",
    "dedup.minhash_signature", "streaming.sig_candidates", "streaming.sig_append",
    "queries.clean_incremental", "functions.bpe_encode", "queries.corpus_pipeline",
    "similarity.text_search", "similarity.pq_search", "queries.hybrid_rrf")

  /** Per-layer values besides the span counters, likewise always reported. */
  val ExtraNames: Seq[String] = Seq(
    "engine.tag_assignments.rows_out",
    "sources.snapshot_keys.read_frac", "sources.snapshot_keys.read_base_mb",
    "sources.snapshot_upsert.buckets_touched", "sources.snapshot_upsert.write_amp",
    "sources.snapshot_upsert.write_base_mb",
    "streaming.sig_candidates.pairs", "streaming.sig_candidates.read_frac",
    "streaming.sig_candidates.read_base_mb",
    "similarity.text_search.read_frac", "similarity.text_search.read_base_mb",
    "similarity.pq_search.read_frac", "similarity.pq_search.read_base_mb",
    "queries.hybrid_rrf.recall_at_10") ++
    Seq("clean", "decontaminate", "scrub", "mix", "shard", "pack").map(s => s"queries.stage.${s}_s")

  def layerMetrics(ctx: Ctx, tracer: Tracer, tracedWall: Double,
                   untracedWall: Double): Map[String, Double] = {
    val spans = tracer.spans
    val unknown = (spans.map(_.name).toSet -- SpanNames) ++
      ((ctx.layerValues.keySet ++ ctx.layerTotals.keySet) -- ExtraNames)
    require(unknown.isEmpty, s"per-layer names outside the reported set: $unknown")
    val perSpan = SpanNames.flatMap { n =>
      val ss = spans.filter(_.name == n)
      val cs = ss.map(tracer.counters)
      def mb(f: org.apache.spark.graftbench.SpanCounters => Long) = cs.map(f).sum / 1048576.0
      Seq(
        s"$n.wall_s" -> ss.map(_.wall).sum,
        s"$n.cpu_s" -> ss.map(_.cpu).sum,
        s"$n.tasks" -> cs.map(_.tasks.get).sum.toDouble,
        s"$n.input_mb" -> mb(_.inputBytes.get),
        s"$n.shuffle_mb" -> mb(_.shuffleBytes.get),
        s"$n.spill_mb" -> mb(_.spillBytes.get))
    }
    val ratios = ctx.layerTotals.map { case (k, (num, den)) =>
      k -> (if (den == 0) 0.0 else num / den) }
    (perSpan ++ ExtraNames.map(_ -> 0.0) ++ ctx.layerValues ++ ratios ++ Seq(
      "trace.coverage" -> spans.map(_.self).sum / tracedWall,
      "trace.overhead_frac" -> (tracedWall / untracedWall - 1.0))).toMap
  }
}

/** What a workload's ops share: the session, the seed's inputs, the run's
  * work dir, and (traced runs) the span collector. */
final class Ctx(val spark: SparkSession, val inputs: String, val work: String,
                val seconds: Int, val failOp: Int) {
  var tracer: Option[Tracer] = None
  def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))
  def tracing: Boolean = tracer.isDefined

  /** Per-layer values summed over a traced pass (counts, bases). */
  val layerValues = scala.collection.mutable.LinkedHashMap[String, Double]()
  def add(k: String, v: Double): Unit = if (tracing) layerValues(k) = layerValues.getOrElse(k, 0.0) + v
  /** Ratios, reported as Σnumerator / Σdenominator over the pass. */
  val layerTotals = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
  def ratio(k: String, num: Double, den: Double): Unit = if (tracing) {
    val (a, b) = layerTotals.getOrElse(k, (0.0, 0.0))
    layerTotals(k) = (a + num, b + den)
  }
  /** Input bytes the jobs of the most recent span named `name` read. */
  def lastInputBytes(name: String): Double =
    tracer.flatMap { t => t.flush(); t.lastOf(name).map(s => t.counters(s).inputBytes.get.toDouble) }
      .getOrElse(0.0)

  /** Materialise a frame the way graft's own runner does between steps. */
  def materialize(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** A named user job of graft, run as a closed loop of ops. */
trait Workload {
  def name: String
  /** Op latency on the reference host (4 cores); the op count of a run is
    * `seconds / nominalOpS`, so a run does the same work on every commit. */
  def nominalOpS: Double
  def minOps: Int = 3
  /** Build the starting state into an empty `dir`. */
  def setup(dir: String): Unit
  /** Drop in-process caches tied to the state being discarded. */
  def release(): Unit = ()
  def warmup(pristine: String): Unit = ()
  def startPass(pristine: String): Unit
  def liveDir(pristine: String): String
  def beforeOp(i: Int): Unit = ()
  def op(i: Int, traced: Boolean): Unit
  def rowsPerOp(i: Int): Long
  /** Output check of op `i`; each string is one failure. */
  def check(i: Int): Seq[String]
  def endCheck(live: String): Seq[String] = Nil
  def storeBytes(live: String): Long = Fs.bytes(live)
  def liveRows(live: String): Long
  def extraEndToEnd: Map[String, Double] = Map.empty
}

object Restore {
  /** Replace `live` with a copy of `pristine` and prove the copy equal. */
  def apply(pristine: String, live: String): Unit = {
    Fs.delete(live)
    Fs.copy(pristine, live)
    val a = Fs.print(pristine)
    val b = Fs.print(live)
    require(a == b, s"state reset failed: $live differs from $pristine")
  }
}
