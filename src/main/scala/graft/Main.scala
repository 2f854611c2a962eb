package graft

import graft.cli.{Args, CorpusCommands, SigCommands, TextCommands, VectorCommands}
import graft.engine.TagEngine
import graft.merge.TagMerger
import graft.pipeline.CorpusPipeline
import graft.rules.RuleCatalog
import graft.sources.{DataQuality, SnapshotStore, Tables}
import org.apache.spark.sql.functions._

/** Top-level batch runner — the reference's scheduler entry point
  * (reference: main.py, src/scheduler/main_scheduler.py:84-276:
  * `run_full_tag_compute` / `run_incremental_compute` /
  * `run_specific_tags`) re-expressed as one declarative pipeline:
  * rules table → per-source-table quality gate → single-pass tag
  * compute per table → memory merge → snapshot upsert → run statistics.
  *
  * Usage (all configuration via GRAFT_* env, see [[GraftConfig]]):
  * {{{
  *   runMain graft.Main full                   # all users × all tags
  *   runMain graft.Main incremental            # users absent from the snapshot
  *   runMain graft.Main full tags=1,3,8        # tag subset, merged with snapshot
  *   runMain graft.Main full users=1,7,13      # user subset
  * }}}
  *
  * The LLM-pipeline half is operable from the same entry point — the
  * scheduler surface the reference gives its tag jobs, extended to the
  * data-curation jobs this engine adds: `runPipeline` dispatches
  * `<command> k=v…` through one handler table, and each command
  * family documents its usage lines — [[graft.cli.VectorCommands]],
  * [[graft.cli.TextCommands]], [[graft.cli.SigCommands]],
  * [[graft.cli.CorpusCommands]] and [[graft.pipeline.CorpusPipeline]].
  *
  * Unlike the reference — which runs one Spark job per rule and eagerly
  * counts each result (tag_computer.py:60) — every run here is,
  * regardless of rule count: one quality-gate aggregation and one tag
  * scan per source table, one merge shuffle, a pruned snapshot key
  * probe (incremental runs) or snapshot merge (tag subsets), one
  * upsert, one pruned validation read, and two stats actions over the
  * checkpointed result.
  */
object Main {

  final case class RunStats(
      command: String,
      usersTagged: Long,
      totalAssignments: Long,
      perTagHits: Map[Int, Long],
      invalidRules: Seq[(Int, String)],
      skippedTables: Seq[String],
      missingAfterWrite: Long,
      durationSec: Double)

  def main(args: Array[String]): Unit = {
    val cfg = GraftConfig.fromEnv()
    val spark = cfg.session()
    if (args.headOption.exists(PipelineCommands)) println(pipelineJson(runPipeline(spark, args.toSeq)))
    else println(statsJson(run(spark, cfg, args.toSeq)))
    spark.stop()
  }

  /** One batch run; separated from `main` so specs drive it directly. */
  def run(spark: org.apache.spark.sql.SparkSession, cfg: GraftConfig,
          args: Seq[String]): RunStats = {
    val t0 = System.nanoTime()
    val command = args.headOption.filterNot(_.contains("=")).getOrElse("full")
    val tagScope = argIds(args, "tags=").map(_.map(_.toInt).toSet)
    val userScope = argIds(args, "users=")

    val store = new SnapshotStore(spark, cfg.snapshotPath)
    val engine = cfg.anchorDate.map(TagEngine.at).getOrElse(new TagEngine())

    // rules-as-data (reference rule_reader): bad rules are reported,
    // not fatal — matching the reference's skip-and-log behavior.
    // Source precedence: JDBC (the reference reads rules from MySQL)
    // over parquet path.
    val rulesDf = (cfg.rulesJdbcUrl, cfg.rulesPath) match {
      case (Some(url), _) =>
        graft.sources.Jdbc.read(spark, url, cfg.rulesJdbcTable, new java.util.Properties())
      case (None, Some(p)) => spark.read.parquet(p)
      case _ => sys.error("GRAFT_RULES (parquet) or GRAFT_RULES_JDBC_URL must point to a " +
        "rules table with tag_id, tag_name, tag_category, source_table, rule_json")
    }
    val (entries, invalid) = RuleCatalog.fromDataFrame(rulesDf)
    val scoped = tagScope.fold(entries)(ids => entries.filter(e => ids(e.tagRule.tagId)))
    require(scoped.nonEmpty, "no valid rules in scope")

    val byTable = RuleCatalog.byTable(scoped)
    val required = RuleCatalog.requiredFields(scoped)

    // per-table: quality gate → scope users → one single-pass compute
    val skipped = Seq.newBuilder[String]
    val perTable = byTable.toSeq.sortBy(_._1).flatMap { case (table, rules) =>
      val ucol = cfg.userCol(table)
      val df = Tables.load(spark, cfg.dataDir, table)
      val report = DataQuality.validate(df, table, ucol +: required(table),
        cfg.minRowCount, cfg.maxNullRate)
      if (!report.passed) {
        System.err.println(s"[graft] SKIP $table: ${report.failures.mkString("; ")}")
        skipped += table
        None
      } else {
        val users = userScope.fold(df)(ids => df.filter(col(ucol).isin(ids: _*)))
        Some(engine.tagAssignments(users, rules, ucol))
      }
    }
    require(perTable.nonEmpty, "every source table failed its quality gate")

    val assignments = perTable.reduce(_.unionByName(_)).localCheckpoint()
    val profiles = TagMerger.memoryMerge(Seq(assignments)).localCheckpoint()

    // incremental = only users absent from the snapshot
    // (main_scheduler.run_incremental_compute); a tag subset merges
    // with existing tags so out-of-scope tags survive. keysFor prunes
    // the snapshot side to the buckets this run's users hash into —
    // a small nightly delta probes a few buckets of a billions-row
    // snapshot instead of scanning every live file. Profiles and users
    // are checkpointed: the key probe, upsert, validation and stats all
    // read them, and must not re-run the merge shuffle or the anti-join
    val scopedUsers =
      if (command == "incremental")
        profiles.join(store.keysFor(profiles), Seq("user_id"), "left_anti").localCheckpoint()
      else profiles
    // the snapshot is only read where a tag subset merges with it, and
    // only the scoped users' buckets: mergeWithExisting left-joins from
    // scopedUsers, so rows of other buckets could never match
    val snap = tagScope.flatMap(_ => store.readForKeys(scopedUsers)) match {
      case Some(existing) =>
        TagMerger.mergeWithExisting(scopedUsers, existing.select("user_id", "tag_ids"))
          .localCheckpoint()
      case None => scopedUsers
    }
    store.upsert(snap)
    val missing = store.validateWrite(snap)

    // stats reflect the WRITTEN delta (the reference scheduler reports
    // per-run counts): an incremental run must not report hits for
    // users its anti-join excluded, and a tag-subset run must not count
    // the whole merged snapshot as "tagged this run". `snap` holds
    // exactly the users this run touched (mergeWithExisting left-joins
    // from scopedUsers), so it is the written delta; hits restrict the
    // assignments to those users
    val hits = assignments.join(scopedUsers.select("user_id"), Seq("user_id"), "left_semi")
      .groupBy("tag_id").count().collect()
      .map(r => r.getAs[Number]("tag_id").intValue() -> r.getLong(1)).toMap
    val written = snap.agg(count(lit(1)), coalesce(sum(size(col("tag_ids"))), lit(0L))).head()
    RunStats(
      command = command,
      usersTagged = written.getLong(0),
      totalAssignments = written.getLong(1),
      perTagHits = hits,
      invalidRules = invalid,
      skippedTables = skipped.result(),
      missingAfterWrite = missing,
      durationSec = (System.nanoTime() - t0) / 1e9)
  }

  final case class PipelineStats(command: String, rowsIn: Long, rowsOut: Long,
                                 durationSec: Double)

  /** Every pipeline command and its handler, contributed by the
    * command families. */
  private val Commands: Map[String, Args.Command] =
    VectorCommands.commands ++ TextCommands.commands ++ SigCommands.commands ++
      CorpusCommands.commands ++ CorpusPipeline.commands

  /** The commands `main` routes to [[runPipeline]]: exactly the
    * handler table's keys, so a handled command cannot go unrouted. */
  private[graft] val PipelineCommands: Set[String] = Commands.keySet

  /** One pipeline job; separated from `main` so specs drive it
    * directly. The args are parsed once ([[graft.cli.Args]] refuses
    * an unknown `tokens=` before any command runs), then the command
    * is looked up in the handler table. */
  def runPipeline(spark: org.apache.spark.sql.SparkSession, args: Seq[String]): PipelineStats = {
    val a = Args(spark, args)
    Commands.getOrElse(a.command, sys.error(s"unknown pipeline command: ${a.command}"))(a)
  }

  private def pipelineJson(p: PipelineStats): String =
    s"""{"command":"${p.command}","rows_in":${p.rowsIn},"rows_out":${p.rowsOut},""" +
      s""""duration_sec":${p.durationSec}}"""

  private def argIds(args: Seq[String], prefix: String): Option[Seq[Long]] =
    args.find(_.startsWith(prefix))
      .map(_.stripPrefix(prefix).split(",").toSeq.filter(_.nonEmpty).map(_.trim.toLong))

  private def statsJson(s: RunStats): String = {
    val hits = s.perTagHits.toSeq.sortBy(_._1)
      .map { case (id, n) => s""""$id":$n""" }.mkString("{", ",", "}")
    s"""{"command":"${s.command}","users_tagged":${s.usersTagged},""" +
      s""""total_assignments":${s.totalAssignments},"per_tag_hits":$hits,""" +
      s""""invalid_rules":${s.invalidRules.size},"skipped_tables":${s.skippedTables.size},""" +
      s""""missing_after_write":${s.missingAfterWrite},"duration_sec":${s.durationSec}}"""
  }
}
