package graft.cli

import graft.Main.PipelineStats
import graft.functions.LangProfiles
import graft.queries.{PipelineQueries, TextQueries}
import graft.similarity.{PqIndex, TextIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One pipeline invocation, parsed once: the command, its `k=v`
  * options, and the builders every command family shares. Commands
  * mirror the tag runner's style: positional command, `k=v` options. */
final class Args private (val spark: SparkSession, val command: String,
                          val opts: Map[String, String], t0: Long) {

  def req(k: String): String =
    opts.getOrElse(k, sys.error(s"$command requires $k=<...>"))

  // tokens=pre (default) prices budgets in pre-tokens; tokens=bpe in
  // trained-BPE tokens under the frozen builtin model — the budget a
  // training run actually spends. Validated once, up front, so a
  // misdirected knob refuses before any stage runs.
  val tokensMode: String = opts.getOrElse("tokens", "pre") match {
    case m @ ("pre" | "bpe") => m
    case other => sys.error(s"$command: unknown tokens=$other (pre|bpe)")
  }
  def tokenize(docs: DataFrame): DataFrame =
    if (tokensMode == "bpe") PipelineQueries.tokenizeDocsBpe(docs)
    else PipelineQueries.tokenizeDocs(docs)
  def score(docs: DataFrame): DataFrame =
    if (tokensMode == "bpe") PipelineQueries.scoreDocsBpe(docs)
    else PipelineQueries.scoreDocs(docs)

  // every mix form keeps null-lang docs WHOLE (no language threshold
  // applies and they take no budget share — the mixApplyKeepPoints
  // left-join contract): say so, because the budget does not govern
  // them (one pass over the persisted token projection, not the text)
  def warnNullLang(toked: DataFrame, where: String): Unit = {
    val n = toked.filter(col("lang").isNull).count()
    if (n > 0) System.err.println(s"[graft] $where NOTE: $n document(s) " +
      "have null lang — kept WHOLE, outside the token budget; " +
      "run langid first if they should be downsampled")
  }

  /** `scratchcheck=`: refuse in local mode, warn on a cluster (see
    * [[graft.pipeline.StateDir.cleanScratchPreflight]]). */
  def scratchCheck: String =
    opts.getOrElse("scratchcheck", if (spark.sparkContext.isLocal) "refuse" else "warn")

  /** The langid profile table: derived from the `profiles=` (lang,
    * text) slice when given, else the builtin passages. */
  def langProfiles: LangProfiles.ProfileSet = opts.get("profiles") match {
    case Some(p) => TextQueries.deriveLangProfiles(spark.read.parquet(p).select("lang", "text"))
    case None => LangProfiles.builtin
  }

  /** Vector frames default to `(id, vec)` columns; override with
    * `idcol=` / `veccol=`. */
  def vectors(path: String): DataFrame =
    spark.read.parquet(path).select(
      col(opts.getOrElse("idcol", "id")).as("id"),
      col(opts.getOrElse("veccol", "vec")).as("vec"))

  // cells/buckets/probe absent ⇒ 0 ⇒ PqIndex sizes them from the
  // corpus/layout (a fixed default here silently hands a 100×-grown
  // corpus a quadratic probe — or, for probe, a collapsed recall:
  // the sf10 lessons in PLANS.md)
  def pqIndex(dir: String, warmDefault: String = "false") = new PqIndex(spark, dir,
    dim = opts.getOrElse("dim", "64").toInt,
    m = opts.getOrElse("m", "8").toInt,
    k = opts.getOrElse("k", "16").toInt,
    nCells = opts.getOrElse("cells", "0").toInt,
    nProbe = opts.getOrElse("probe", "0").toInt,
    opq = opts.getOrElse("opq", "false").toBoolean,
    buckets = opts.getOrElse("buckets", "0").toInt,
    fitSampleN = opts.getOrElse("fitsample", "0").toInt,
    sq8 = opts.getOrElse("sq8", "false").toBoolean,
    // warm=true caches the SQ8 sidecar across re-rank calls WITHIN
    // this process (generation-token invalidated) — for the serving
    // loops; a one-shot CLI call gains nothing. `serve` flips the
    // default to true (the loop is what the cache is FOR)
    warmRerank = opts.getOrElse("warm", warmDefault).toBoolean)

  // tparts absent ⇒ 0 ⇒ TextIndex.build sizes the term layout from
  // the corpus token mass (same fixed-knob hazard as index-build).
  // warm= is the SAME knob pqIndex reads: warm=true on hybrid-search
  // (or serve) warms both sides' caches within this process
  def textIndex(dir: String, warmDefault: String = "false") = new TextIndex(spark, dir,
    termParts = opts.getOrElse("tparts", "0").toInt,
    warmSearch = opts.getOrElse("warm", warmDefault).toBoolean)

  // store maintenance: compact to maxfiles= live files per bucket;
  // vacuum keeps keep= versions and anything younger than agems=
  def maxFiles: Int = opts.getOrElse("maxfiles", "1").toInt
  def vacuumKeep: Int = opts.getOrElse("keep", "1").toInt
  def vacuumAgeMs: Long = opts.getOrElse("agems", (3600L * 1000L).toString).toLong

  def done(rowsIn: Long, rowsOut: Long): PipelineStats =
    PipelineStats(command, rowsIn, rowsOut, (System.nanoTime() - t0) / 1e9)

  /** Write a command's result frame to `out=`; rowsOut is its count. */
  def emit(rowsIn: => Long, result: DataFrame): PipelineStats = {
    result.write.mode("overwrite").parquet(req("out"))
    done(rowsIn, result.count())
  }
}

object Args {
  /** Type of one command's handler in the dispatch table. */
  type Command = Args => PipelineStats

  def apply(spark: SparkSession, args: Seq[String]): Args = {
    val t0 = System.nanoTime()
    val opts = args.tail.filter(_.contains("=")).map { a =>
      val Array(k, v) = a.split("=", 2); k -> v
    }.toMap
    new Args(spark, args.head, opts, t0)
  }
}
