package graft

import graft.pipeline.StateDir
import graft.sources.DataQuality
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end runner coverage: rules table → quality gate → compute →
  * snapshot → statistics, through the same entry `graft.Main` exposes
  * on the CLI (reference surface: main_scheduler.py:84-276). */
class MainSpec extends SparkSpec {

  private def freshEnv(): (String, Map[String, String]) = {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main").toString
    Seq(
      (1L, 1500L, "ok"), (2L, 10L, "ok"), (3L, 5000L, "pending"), (4L, -5L, "ok")
    ).toDF("uid", "assets", "kyc").write.parquet(s"$base/app_users.parquet")
    Seq(
      (1, "rich", "wealth", "app_users",
        """{"conditions":[{"field":"assets","operator":">=","value":1000}]}"""),
      (2, "verified", "compliance", "app_users",
        """{"conditions":[{"field":"kyc","operator":"=","value":"ok"}]}"""),
      (9, "broken", "meta", "app_users", """{"conditions":[{"field":"x"}]}""")
    ).toDF("tag_id", "tag_name", "tag_category", "source_table", "rule_json")
      .write.parquet(s"$base/rules.parquet")
    val env = Map(
      "GRAFT_DATA_DIR" -> base,
      "GRAFT_SNAPSHOT" -> s"$base/snap/user_tags",
      "GRAFT_RULES" -> s"$base/rules.parquet",
      "GRAFT_USER_COLS" -> "app_users=uid")
    (base, env)
  }

  private def snapshot(cfg: GraftConfig): Map[Long, List[Int]] =
    new graft.sources.SnapshotStore(spark, cfg.snapshotPath).read().get
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        r.getAs[scala.collection.Seq[Int]]("tag_ids").toList)
      .toMap

  test("full run: computes, upserts, reports stats; bad rule skipped not fatal") {
    val (_, env) = freshEnv()
    val cfg = GraftConfig.fromEnv(env)
    val stats = Main.run(spark, cfg, Seq("full"))
    assert(stats.usersTagged == 4) // every user hits >= 1 of the 2 valid rules
    assert(stats.invalidRules.map(_._1) == Seq(9))
    assert(stats.perTagHits == Map(1 -> 2, 2 -> 3))
    assert(stats.missingAfterWrite == 0L)
    assert(snapshot(cfg) == Map(
      1L -> List(1, 2), 2L -> List(2), 3L -> List(1), 4L -> List(2)))
  }

  test("rules from a JDBC source (the reference's MySQL rule store) drive the same run") {
    val (base, env) = freshEnv()
    val url = s"jdbc:derby:$base/rulesdb;create=true"
    graft.sources.Jdbc.write(
      spark.read.parquet(s"$base/rules.parquet"), url, "tag_rules",
      org.apache.spark.sql.SaveMode.Overwrite)
    val cfg = GraftConfig.fromEnv(env - "GRAFT_RULES" + ("GRAFT_RULES_JDBC_URL" -> url))
    val stats = Main.run(spark, cfg, Seq("full"))
    assert(stats.usersTagged == 4)
    assert(stats.invalidRules.map(_._1) == Seq(9))
    assert(stats.perTagHits == Map(1 -> 2, 2 -> 3))
    assert(snapshot(cfg) == Map(
      1L -> List(1, 2), 2L -> List(2), 3L -> List(1), 4L -> List(2)))
  }

  test("tag-subset run merges with the existing snapshot; incremental skips known users") {
    val (_, env) = freshEnv()
    val cfg = GraftConfig.fromEnv(env)
    Main.run(spark, cfg, Seq("full"))
    // subset run must not erase tag 2 for user 1
    val subset = Main.run(spark, cfg, Seq("full", "tags=1"))
    assert(subset.perTagHits.keySet == Set(1))
    assert(snapshot(cfg)(1L) == List(1, 2), "out-of-scope tag erased by subset run")
    // incremental: all users already in snapshot -> nothing tagged
    val incr = Main.run(spark, cfg, Seq("incremental"))
    assert(incr.usersTagged == 0)
  }

  test("full, incremental and tag-subset runs leave the same tags on a fresh (one-bucket) snapshot as on a 32-bucket one") {
    val s = spark
    import s.implicits._
    def runs(preBuckets: Option[Int]): (Map[Long, List[Int]], Option[Int]) = {
      val (base, env) = freshEnv()
      val cfg = GraftConfig.fromEnv(env)
      // an empty overwrite records the layout before any user is written
      preBuckets.foreach(b => new graft.sources.SnapshotStore(spark, cfg.snapshotPath, buckets = b)
        .overwrite(Seq.empty[(Long, Seq[Int])].toDF("user_id", "tag_ids")))
      Main.run(spark, cfg, Seq("full"))
      // new users arrive for the incremental run; then user 5 gains assets,
      // which the tag-1 subset run merges into its existing tags
      Seq((5L, 10L, "ok"), (6L, 2000L, "no"), (7L, 3L, "pending"))
        .toDF("uid", "assets", "kyc").write.mode("append").parquet(s"$base/app_users.parquet")
      Main.run(spark, cfg, Seq("incremental"))
      spark.read.parquet(s"$base/app_users.parquet")
        .withColumn("assets", when(col("uid") === 5L, lit(9000L)).otherwise(col("assets")))
        .write.parquet(s"$base/app_users2.parquet")
      spark.read.parquet(s"$base/rules.parquet")
        .withColumn("source_table", lit("app_users2"))
        .write.parquet(s"$base/rules2.parquet")
      Main.run(spark, GraftConfig.fromEnv(env + ("GRAFT_RULES" -> s"$base/rules2.parquet") +
        ("GRAFT_USER_COLS" -> "app_users2=uid")), Seq("full", "tags=1"))
      (snapshot(cfg), new graft.sources.SnapshotStore(spark, cfg.snapshotPath).bucketCount)
    }
    val (fresh, freshBuckets) = runs(None)
    val (legacy, legacyBuckets) = runs(Some(32))
    assert(freshBuckets.contains(1) && legacyBuckets.contains(32))
    assert(fresh == Map(1L -> List(1, 2), 2L -> List(2), 3L -> List(1), 4L -> List(2),
      5L -> List(1, 2), 6L -> List(1)), s"fresh: $fresh")
    assert(fresh == legacy)
  }

  /** [[freshEnv]] with the scenario fixture as its only source table:
    * users with a registration date, three rules (tag 2 counts days back
    * from GRAFT_ANCHOR), anchored at 2024-01-10. */
  private def scenarioEnv(users: Seq[(Long, Long, String, String)] = Seq(
      (1L, 5000L, "2024-01-09", "ok"), (2L, 100L, "2024-01-01", "ok"), (3L, 2000L, "2023-06-15", "no"))
  ): (String, GraftConfig) = {
    val s = spark
    import s.implicits._
    val (base, env) = freshEnv()
    users.toDF("user_id", "assets", "d", "kyc")
      .withColumn("reg_date", col("d").cast("date")).drop("d")
      .write.parquet(s"$base/scn_users.parquet")
    def rule(field: String, op: String, value: String) =
      s"""{"conditions":[{"field":"$field","operator":"$op","value":$value}]}"""
    Seq(
      (1, "rich", "wealth", rule("assets", ">=", "1000")),
      (2, "fresh", "lifecycle", rule("reg_date", "recent_days", "7")),
      (3, "verified", "compliance", rule("kyc", "=", "\"ok\"")))
      .map { case (id, name, cat, json) => (id, name, cat, "scn_users", json) }
      .toDF("tag_id", "tag_name", "tag_category", "source_table", "rule_json")
      .write.parquet(s"$base/scn_rules.parquet")
    (base, GraftConfig.fromEnv(env +
      ("GRAFT_RULES" -> s"$base/scn_rules.parquet", "GRAFT_ANCHOR" -> "2024-01-10")))
  }

  test("scenario 1: full users × full tags") {
    val (_, cfg) = scenarioEnv()
    Main.run(spark, cfg, Seq("full"))
    assert(snapshot(cfg) == Map(1L -> List(1, 2, 3), 2L -> List(3), 3L -> List(1)))
  }

  test("scenario 2: specific tags merge with existing snapshot") {
    val (_, cfg) = scenarioEnv()
    Main.run(spark, cfg, Seq("full"))
    // recompute only tag 1; users keep their other tags
    Main.run(spark, cfg, Seq("full", "tags=1"))
    assert(snapshot(cfg) == Map(1L -> List(1, 2, 3), 2L -> List(3), 3L -> List(1)))
  }

  test("scenario 3: incremental users only tags users absent from snapshot") {
    val (_, cfg) = scenarioEnv()
    Main.run(spark, cfg, Seq("full", "users=2,3")) // pre-existing users
    val out = Main.run(spark, cfg, Seq("incremental"))
    assert(out.usersTagged == 1L) // only user 1 is new
    assert(snapshot(cfg) == Map(1L -> List(1, 2, 3), 2L -> List(3), 3L -> List(1)))
  }

  test("scenario 4: incremental users × specific tags writes only the new users' subset") {
    val (_, cfg) = scenarioEnv()
    Main.run(spark, cfg, Seq("full", "users=2,3"))
    val out = Main.run(spark, cfg, Seq("incremental", "tags=1,2"))
    assert(out.usersTagged == 1L && out.perTagHits == Map(1 -> 1L, 2 -> 1L))
    // stored users are not re-tagged: user 3 hits tag 1 and keeps its stored tags
    assert(snapshot(cfg) == Map(1L -> List(1, 2), 2L -> List(3), 3L -> List(1)))
  }

  test("scenario 5/6: specific users; 6 merges with existing") {
    val (_, cfg) = scenarioEnv()
    Main.run(spark, cfg, Seq("full", "users=1"))
    assert(snapshot(cfg) == Map(1L -> List(1, 2, 3)))
    // scenario 6: same user, only tag 3 recomputed — union preserved
    Main.run(spark, cfg, Seq("full", "users=1", "tags=3"))
    assert(snapshot(cfg) == Map(1L -> List(1, 2, 3)))
  }

  test("a tag-subset run over users in 2 of 8 buckets opens only those buckets' files") {
    val s = spark
    import s.implicits._
    val (_, cfg) = scenarioEnv(
      (1L to 40L).map(i => (i, i * 100L, "2024-01-01", if (i % 2 == 0) "ok" else "no")))
    val dir = cfg.snapshotPath
    // an empty overwrite records the layout before any user is written
    val store = new graft.sources.SnapshotStore(spark, dir, buckets = 8)
    store.overwrite(Seq.empty[(Long, Seq[Int])].toDF("user_id", "tag_ids"))
    Main.run(spark, cfg, Seq("full"))
    val full = snapshot(cfg)
    // each key's bucket, read off the file that holds it
    val bucketOf = store.read().get.select(col("user_id"), col("_metadata.file_path")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split('/').find(_.startsWith("snap_bucket=")).get).toMap
    val two = bucketOf.values.toSeq.distinct.sorted.take(2).toSet
    val scoped = bucketOf.collect { case (u, b) if two(b) => u }.toSeq.sorted
    // every other bucket's data files move away: opening one fails the run
    val fsys = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val away = store.liveFiles.filterNot(f => two.exists(b => f.contains(s"/$b/")))
    assert(away.nonEmpty && away.size < store.liveFiles.size)
    def move(from: String, to: String) =
      assert(fsys.rename(new org.apache.hadoop.fs.Path(from), new org.apache.hadoop.fs.Path(to)))
    away.foreach(f => move(s"$dir/$f", s"$dir/$f.away"))
    // scenario 6: the two buckets' users, tag 1 only
    try Main.run(spark, cfg, Seq("full", "tags=1", scoped.mkString("users=", ",", "")))
    finally away.foreach(f => move(s"$dir/$f.away", s"$dir/$f"))
    // tag 1 recomputed over the same users: every user keeps its tags
    assert(snapshot(cfg) == full)
  }

  test("a tag run refuses an argument it does not know, before any Spark job") {
    val (_, env) = freshEnv()
    val cfg = GraftConfig.fromEnv(env)
    Main.run(spark, cfg, Seq("full"))
    val store = new graft.sources.SnapshotStore(spark, cfg.snapshotPath)
    val version = store.versions().last
    val bad = Seq(
      Seq("incremntal"), Seq("full", "user=1,7"), Seq("corpus-clen", "in=docs"),
      Seq("full", "full"), Seq("full", "users=1", "extra"), Seq("tags"), Seq("full", "tags="),
      Seq("full", "users="), Seq("full", "tags=1,x"), Seq("users=1,,2"), Seq("full", "tags=3000000000"),
      Seq("full", "tags=1", "tags=2"))
    for (args <- bad) {
      val (_, jobs, _, _) = recordedWithRdd(intercept[IllegalArgumentException](Main.run(spark, cfg, args)))
      assert(jobs.isEmpty, s"$args ran ${jobs.size} Spark jobs before it was refused")
      assert(store.versions().last == version, s"$args moved the snapshot")
    }
  }

  test("tag-run job counts: each scenario runs at most its pinned number of Spark jobs") {
    val s = spark
    import s.implicits._
    // (args, bound on all jobs, bound on jobs outside any SQL execution),
    // each run on a snapshot of users 1-4 after users 5-7 arrive. The
    // bounds are the measured counts, so a scenario that gains a job
    // fails here.
    val cases = Seq(
      (Seq("full"), 31, 3),
      (Seq("full", "tags=1"), 33, 3),
      (Seq("incremental"), 23, 2),
      (Seq("incremental", "tags=1"), 23, 2),
      (Seq("full", "users=1,5"), 31, 3),
      (Seq("full", "users=1,5", "tags=1"), 33, 3))
    for ((args, maxJobs, maxRddJobs) <- cases) {
      val (base, env) = freshEnv()
      val cfg = GraftConfig.fromEnv(env)
      Main.run(spark, cfg, Seq("full"))
      Seq((5L, 10L, "ok"), (6L, 2000L, "no"), (7L, 3L, "pending"))
        .toDF("uid", "assets", "kyc").write.mode("append").parquet(s"$base/app_users.parquet")
      val (stats, jobs, _, rddJobs) = recordedWithRdd(Main.run(spark, cfg, args))
      val what = args.mkString(" ")
      info(s"$what: ${jobs.size} jobs, $rddJobs outside SQL")
      assert(stats.usersTagged > 0 && stats.missingAfterWrite == 0L, s"$what: $stats")
      assert(jobs.size <= maxJobs, s"$what: ${jobs.size} jobs > $maxJobs: $jobs")
      assert(rddJobs <= maxRddJobs, s"$what: $rddJobs bare RDD jobs > $maxRddJobs")
    }
  }

  test("quality gate skips a table that fails its null-rate threshold") {
    val s = spark
    import s.implicits._
    val (base, env) = freshEnv()
    // a second source table whose rule field is 90% null
    Seq.tabulate(10)(i => (100L + i, if (i == 0) Some(1000L) else None))
      .toDF("uid", "balance").write.parquet(s"$base/flaky.parquet")
    val rules = spark.read.parquet(s"$base/rules.parquet").unionByName(
      Seq((5, "flaky_tag", "meta", "flaky",
        """{"conditions":[{"field":"balance","operator":">=","value":1}]}"""))
        .toDF("tag_id", "tag_name", "tag_category", "source_table", "rule_json"))
    rules.write.mode("overwrite").parquet(s"$base/rules2.parquet")
    val cfg = GraftConfig.fromEnv(env +
      ("GRAFT_RULES" -> s"$base/rules2.parquet",
        "GRAFT_USER_COLS" -> "app_users=uid,flaky=uid",
        "GRAFT_MAX_NULL_RATE" -> "0.5"))
    val stats = Main.run(spark, cfg, Seq("full"))
    assert(stats.skippedTables == Seq("flaky"))
    assert(stats.perTagHits.keySet == Set(1, 2), "flaky table's tag must not appear")
  }

  test("pipeline subcommands: incremental corpus-clean, index build/add/search e2e") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_pipe").toString
    // quality-passing prose (see PipelineIncrementalSpec): stopword-rich,
    // topic-derived every 3rd word so distinct topics share no shingles
    def prose(topic: String): String =
      (1 to 56).map { i =>
        if (i % 3 == 0) s"$topic$i"
        else Seq("the", "and", "of", "to", "in", "is", "it", "that")(i % 8)
      }.mkString(" ")

    // nightly delta 0: two clean docs
    Seq((1L, "en", prose("heron")), (2L, "en", prose("otter")))
      .toDF("doc_id", "lang", "text").write.parquet(s"$base/docs0.parquet")
    val run0 = Main.runPipeline(spark, Seq("corpus-clean",
      s"in=$base/docs0.parquet", s"index=$base/sig", s"out=$base/clean0", "batch=0"))
    assert(run0.rowsIn == 2 && run0.rowsOut == 2)

    // nightly delta 1: a near-dup of a delta-0 doc (dropped via the
    // signature index), a fresh doc, and junk below the quality floor
    Seq((3L, "en", prose("heron") + " extra"),
        (4L, "en", prose("falcon")),
        (5L, "en", "ZZZZ!!! @@@@ 9999 ####"))
      .toDF("doc_id", "lang", "text").write.parquet(s"$base/docs1.parquet")
    val run1 = Main.runPipeline(spark, Seq("corpus-clean",
      s"in=$base/docs1.parquet", s"index=$base/sig", s"out=$base/clean1", "batch=1"))
    assert(run1.rowsIn == 3 && run1.rowsOut == 1)
    assert(spark.read.parquet(s"$base/clean1")
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(4L))

    // takedown through the dedup state: after sig-delete of doc 1,
    // a new near-copy of it is no longer suppressed by the next
    // incremental clean (the ghost-canonical fix, r13 VERDICT #1)
    Seq(1L).toDF("doc_id").write.parquet(s"$base/takedown.parquet")
    val del = Main.runPipeline(spark, Seq("sig-delete",
      s"in=$base/takedown.parquet", s"index=$base/sig"))
    assert(del.rowsIn == 1 && del.rowsOut == 1, s"sig-delete: $del")
    Seq((6L, "en", prose("heron") + " fresh"))
      .toDF("doc_id", "lang", "text").write.parquet(s"$base/docs2.parquet")
    val run2 = Main.runPipeline(spark, Seq("corpus-clean",
      s"in=$base/docs2.parquet", s"index=$base/sig", s"out=$base/clean2", "batch=2"))
    assert(run2.rowsOut == 1,
      "a near-copy of a sig-deleted doc must survive the next clean")

    // index lifecycle over the CLI: build on a base corpus, add a
    // delta, search — the planted copy must come back rank 1
    val dim = 16
    def vec(seed: Long) = graft.VecFixtures.unit(dim, seed)
    (1L to 30L).map(i => (i, vec(i))).toDF("id", "vec")
      .write.parquet(s"$base/corpus.parquet")
    val built = Main.runPipeline(spark, Seq("index-build",
      s"in=$base/corpus.parquet", s"index=$base/idx", s"dim=$dim", "cells=4", "m=4"))
    assert(built.rowsIn == 30)
    // measured recall from the CLI (the candMult tuning loop,
    // PLANS.md r11): rowsOut = recall in micro-units; the exact
    // re-rank path can only improve on the plain probed search
    Seq((900L, vec(7))).toDF("id", "vec").write.parquet(s"$base/rq.parquet")
    val rPlain = Main.runPipeline(spark, Seq("index-recall",
      s"in=$base/rq.parquet", s"index=$base/idx",
      s"vectors=$base/corpus.parquet", "topk=3"))
    val rRerank = Main.runPipeline(spark, Seq("index-recall",
      s"in=$base/rq.parquet", s"index=$base/idx",
      s"vectors=$base/corpus.parquet", "topk=3", "rerank=8"))
    assert(rPlain.rowsOut >= 0L && rPlain.rowsOut <= 1000000L, rPlain.toString)
    assert(rRerank.rowsOut >= rPlain.rowsOut,
      s"exact re-rank can only improve recall: ${rRerank.rowsOut} vs ${rPlain.rowsOut}")
    Seq((800L, vec(2))).toDF("id", "vec").write.parquet(s"$base/delta.parquet")
    Main.runPipeline(spark, Seq("index-add",
      s"in=$base/delta.parquet", s"index=$base/idx", s"dim=$dim", "cells=4", "m=4"))
    Seq((901L, vec(2))).toDF("id", "vec").write.parquet(s"$base/queries.parquet")
    val searched = Main.runPipeline(spark, Seq("index-search",
      s"in=$base/queries.parquet", s"index=$base/idx", s"out=$base/hits",
      s"dim=$dim", "cells=4", "m=4", "topk=3"))
    assert(searched.rowsOut == 3)
    val top = spark.read.parquet(s"$base/hits").filter(col("rank") === 1)
      .select("neighbor_id").head().getLong(0)
    assert(top == 800L || top == 2L,
      s"the query's identical vector (id 2, CLI-added copy 800) must rank first, got $top")

    // maintenance from the CLI: the add left over-split buckets;
    // compact folds them (rowsOut = buckets), vacuum reclaims the
    // superseded generation's files, search is unchanged
    val compacted = Main.runPipeline(spark, Seq("index-compact", s"index=$base/idx"))
    assert(compacted.rowsOut > 0, "the CLI add must have left compactable buckets")
    val vacuumed = Main.runPipeline(spark, Seq("index-vacuum", s"index=$base/idx", "agems=0"))
    assert(vacuumed.rowsOut > 0, "compaction must leave vacuum food")
    val sigCompacted = Main.runPipeline(spark, Seq("sig-compact", s"index=$base/sig"))
    assert(sigCompacted.rowsOut > 0, "the two clean batches must have left compactable sig buckets")
    Main.runPipeline(spark, Seq("index-search",
      s"in=$base/queries.parquet", s"index=$base/idx", s"out=$base/hits2",
      s"dim=$dim", "cells=4", "m=4", "topk=3"))
    val top2 = spark.read.parquet(s"$base/hits2").filter(col("rank") === 1)
      .select("neighbor_id").head().getLong(0)
    assert(top2 == top, "maintenance must not change search results")

    // takedown from the CLI: remove BOTH copies of the queried vector
    // (the original and the added one) — neither may serve again
    Seq(2L, 800L).toDF("id").write.parquet(s"$base/doomed.parquet")
    val deleted = Main.runPipeline(spark, Seq("index-delete",
      s"in=$base/doomed.parquet", s"index=$base/idx"))
    assert(deleted.rowsIn == 2 && deleted.rowsOut == 2,
      s"both planted ids must be removed, got ${deleted.rowsOut}")
    Main.runPipeline(spark, Seq("index-search",
      s"in=$base/queries.parquet", s"index=$base/idx", s"out=$base/hits3",
      s"dim=$dim", "cells=4", "m=4", "topk=3"))
    val post = spark.read.parquet(s"$base/hits3")
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(!post.contains(2L) && !post.contains(800L),
      s"removed ids must never serve again, got $post")
  }

  test("index CLI: SQ8 tier — sq8=true build, rerank= serves without vectors=, inindex recall arm") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_sq8").toString
    val dim = 16
    def vec(seed: Long) = graft.VecFixtures.unit(dim, seed)
    (1L to 30L).map(i => (i, vec(i))).toDF("id", "vec")
      .write.parquet(s"$base/corpus.parquet")
    Main.runPipeline(spark, Seq("index-build", s"in=$base/corpus.parquet",
      s"index=$base/idx", s"dim=$dim", "cells=4", "m=4", "sq8=true"))
    assert(new graft.similarity.PqIndex(spark, s"$base/idx").hasRerankTier,
      "sq8=true must commit the sidecar")
    // the deployment shape the tier exists for: re-rank with NOTHING
    // but the index directory — rerank= given, vectors= absent
    Seq((901L, vec(7))).toDF("id", "vec").write.parquet(s"$base/q.parquet")
    val searched = Main.runPipeline(spark, Seq("index-search",
      s"in=$base/q.parquet", s"index=$base/idx", s"out=$base/hits",
      s"dim=$dim", "cells=4", "m=4", "topk=3", "rerank=8"))
    assert(searched.rowsOut == 3)
    assert(spark.read.parquet(s"$base/hits").filter(col("rank") === 1)
      .select("neighbor_id").head().getLong(0) == 7L,
      "the query's identical vector must rank first through the SQ8 re-rank")
    // inindex=true measures the path just served; it can only improve
    // on the plain probed search
    val rPlain = Main.runPipeline(spark, Seq("index-recall",
      s"in=$base/q.parquet", s"index=$base/idx",
      s"vectors=$base/corpus.parquet", "topk=3"))
    val rIn = Main.runPipeline(spark, Seq("index-recall",
      s"in=$base/q.parquet", s"index=$base/idx",
      s"vectors=$base/corpus.parquet", "topk=3", "rerank=8", "inindex=true"))
    assert(rIn.rowsOut >= rPlain.rowsOut,
      s"SQ8 re-rank can only improve recall: ${rIn.rowsOut} vs ${rPlain.rowsOut}")
    // inindex without a rerank width is a contradiction: refuse up front
    val e = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("index-recall", s"in=$base/q.parquet", s"index=$base/idx",
        s"vectors=$base/corpus.parquet", "inindex=true")))
    assert(e.getMessage.contains("rerank=N"), e.getMessage)
  }

  test("pipeline subcommands: text index build/add/search/maintain e2e") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_text").toString
    Seq((1L, "spark shuffles the hash join build side"),
        (2L, "the sort merge join spills to disk"),
        (3L, "broadcast joins skip the shuffle entirely"))
      .toDF("doc_id", "text").write.parquet(s"$base/docs.parquet")
    val built = Main.runPipeline(spark, Seq("text-index-build",
      s"in=$base/docs.parquet", s"index=$base/tidx", "tparts=8"))
    assert(built.rowsIn == 3)
    // delta add, then search from the CLI: the added doc saturates the
    // query terms and must come back rank 1
    Seq((10L, "hash join hash join hash join"))
      .toDF("doc_id", "text").write.parquet(s"$base/tdelta.parquet")
    Main.runPipeline(spark, Seq("text-index-add",
      s"in=$base/tdelta.parquet", s"index=$base/tidx"))
    Seq((1, "hash join")).toDF("query_id", "qtext")
      .write.parquet(s"$base/tqueries.parquet")
    val searched = Main.runPipeline(spark, Seq("text-index-search",
      s"in=$base/tqueries.parquet", s"index=$base/tidx", s"out=$base/thits", "topk=5"))
    assert(searched.rowsOut >= 2)
    val top = spark.read.parquet(s"$base/thits").filter(col("rank") === 1)
      .select("doc_id").head().getLong(0)
    assert(top == 10L, s"the term-saturating CLI-added doc must rank first, got $top")
    // maintenance parity with the vector index commands
    val compacted = Main.runPipeline(spark, Seq("text-index-compact", s"index=$base/tidx"))
    assert(compacted.rowsOut > 0, "the CLI add must have left compactable buckets")
    val vacuumed = Main.runPipeline(spark, Seq("text-index-vacuum",
      s"index=$base/tidx", "agems=0"))
    assert(vacuumed.rowsOut > 0, "compaction must leave vacuum food")
    Main.runPipeline(spark, Seq("text-index-search",
      s"in=$base/tqueries.parquet", s"index=$base/tidx", s"out=$base/thits2", "topk=5"))
    val top2 = spark.read.parquet(s"$base/thits2").filter(col("rank") === 1)
      .select("doc_id").head().getLong(0)
    assert(top2 == top, "maintenance must not change text search results")

    // takedown from the CLI: the rank-1 doc is removed and stops
    // matching; the remaining corpus still serves
    Seq(10L).toDF("doc_id").write.parquet(s"$base/tdoomed.parquet")
    val deleted = Main.runPipeline(spark, Seq("text-index-delete",
      s"in=$base/tdoomed.parquet", s"index=$base/tidx"))
    assert(deleted.rowsOut > 0, "the doc's posting rows must be removed")
    Main.runPipeline(spark, Seq("text-index-search",
      s"in=$base/tqueries.parquet", s"index=$base/tidx", s"out=$base/thits3", "topk=5"))
    val post = spark.read.parquet(s"$base/thits3")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!post.contains(10L) && post.nonEmpty,
      s"the removed doc must not match; others still do, got $post")
  }

  test("serve loop: three hybrid batches through ONE process; a CDC add between batches is reflected; .stop drains and exits") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_serve").toString
    val dim = 16
    def vec(seed: Long) = graft.VecFixtures.unit(dim, seed)
    // corpus: three docs with disjoint topics + their vectors
    Seq((1L, "spark shuffles the hash join build side"),
        (2L, "the sort merge join spills to disk"),
        (3L, "broadcast joins skip the shuffle entirely"))
      .toDF("doc_id", "text").write.parquet(s"$base/docs.parquet")
    Seq((1L, vec(1)), (2L, vec(2)), (3L, vec(3)))
      .toDF("id", "vec").write.parquet(s"$base/vecs.parquet")
    Main.runPipeline(spark, Seq("text-index-build",
      s"in=$base/docs.parquet", s"index=$base/tidx", "tparts=8"))
    Main.runPipeline(spark, Seq("index-build",
      s"in=$base/vecs.parquet", s"index=$base/vidx",
      s"dim=$dim", "m=4", "k=4", "cells=2", "probe=2", "buckets=2"))

    // the serve loop on its own thread — the long-lived process under
    // test; it must answer batches it discovers and exit on .stop
    @volatile var stats: Main.PipelineStats = null
    @volatile var failure: Throwable = null
    val server = new Thread(() => {
      try stats = Main.runPipeline(spark, Seq("serve",
        s"queries=$base/q", s"out=$base/a", s"index=$base/vidx",
        s"text-index=$base/tidx", s"dim=$dim", "m=4", "k=4", "cells=2", "probe=2",
        "buckets=2", "topk=5", "pollms=100"))
      catch { case t: Throwable => failure = t }
    })
    server.start()
    def await(name: String): Unit = {
      val marker = new java.io.File(s"$base/a/$name/_SUCCESS")
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (!marker.exists() && failure == null && System.nanoTime() < deadline)
        Thread.sleep(100)
      if (failure != null) throw failure
      assert(marker.exists(), s"serve never answered $name")
    }
    def hybridBatch(name: String, qid: Long, qtext: String, seed: Long): Unit =
      Seq((qid, qtext, vec(seed)))
        .toDF("query_id", "qtext", "vec").write.parquet(s"$base/q/$name")

    hybridBatch("batch-1", 77L, "hash join", 5L)
    await("batch-1")
    val a1 = spark.read.parquet(s"$base/a/batch-1")
    assert(a1.count() > 0 && !a1.select("doc_id").collect()
      .map(_.getLong(0)).contains(10L))
    hybridBatch("batch-2", 78L, "sort merge", 6L)
    await("batch-2")

    // CDC between batches: a doc that saturates batch-3's query terms
    // AND carries batch-3's exact query vector — the serve loop must
    // see it WITHOUT a restart (generation-token invalidation of both
    // warm caches through the running process)
    Seq((10L, "hash join hash join hash join"))
      .toDF("doc_id", "text").write.parquet(s"$base/tdelta.parquet")
    Main.runPipeline(spark, Seq("text-index-add",
      s"in=$base/tdelta.parquet", s"index=$base/tidx"))
    Seq((10L, vec(5)))
      .toDF("id", "vec").write.parquet(s"$base/vdelta.parquet")
    Main.runPipeline(spark, Seq("index-add",
      s"in=$base/vdelta.parquet", s"index=$base/vidx",
      s"dim=$dim", "m=4", "k=4", "cells=2", "probe=2", "buckets=2"))
    hybridBatch("batch-3", 79L, "hash join", 5L)
    await("batch-3")
    val a3 = spark.read.parquet(s"$base/a/batch-3")
    val top3 = a3.filter(col("rrf_rank") === 1).select("doc_id").head().getLong(0)
    assert(top3 == 10L,
      s"the CDC-added doc must fuse to rank 1 in the running serve loop, got $top3")

    // drain-and-exit on .stop
    new java.io.File(s"$base/q/.stop").createNewFile()
    server.join(120000)
    assert(!server.isAlive, "serve must exit after .stop")
    if (failure != null) throw failure
    assert(stats.rowsIn == 3, s"three batches answered, got $stats")
    assert(stats.rowsOut > 0)

    // serving observability: one serve_log.jsonl record per batch —
    // batch 2 ran warm (tokens unchanged), batch 3 cold (the CDC add
    // between 2 and 3 changed BOTH generation tokens, and the record
    // proves it)
    val logLines = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$base/a/serve_log.jsonl")),
      java.nio.charset.StandardCharsets.UTF_8).linesIterator.toSeq
    assert(logLines.size == 3, s"three records: $logLines")
    assert(logLines.forall(_.contains("\"ok\":true")), s"$logLines")
    assert(logLines(0).contains("\"batch\":\"batch-1\""), logLines(0))
    assert(logLines(1).contains("\"warm\":true"),
      s"batch 2 tokens unchanged -> warm: ${logLines(1)}")
    assert(logLines(2).contains("\"warm\":false"),
      s"batch 3 follows a CDC add -> cold: ${logLines(2)}")
    def tokOf(line: String, key: String): String =
      s""""$key":("[^"]*"|null)""".r.findFirstMatchIn(line).get.group(1)
    assert(tokOf(logLines(1), "text_token") != tokOf(logLines(2), "text_token"),
      "the CDC add must change the recorded text token")
    assert(tokOf(logLines(1), "vec_token") != tokOf(logLines(2), "vec_token"),
      "the CDC add must change the recorded vector token")

    // a RESTARTED serve must skip already-answered batches (their
    // out-dir _SUCCESS is the processed marker) and exit immediately
    val restat = Main.runPipeline(spark, Seq("serve",
      s"queries=$base/q", s"out=$base/a", s"text-index=$base/tidx",
      "topk=5", "pollms=100"))
    assert(restat.rowsIn == 0, s"restart must skip answered batches, got $restat")

    // vector-only serve (index= without text-index=): the topK branch
    // answers with the index-search schema; maxbatches exits the loop
    // without a .stop file
    Seq((55L, vec(5))).toDF("id", "vec").write.parquet(s"$base/vq/batch-1")
    val vstat = Main.runPipeline(spark, Seq("serve",
      s"queries=$base/vq", s"out=$base/va", s"index=$base/vidx",
      s"dim=$dim", "m=4", "k=4", "cells=2", "probe=2", "buckets=2",
      "topk=3", "pollms=100", "maxbatches=1"))
    assert(vstat.rowsIn == 1 && vstat.rowsOut > 0, s"vector-only serve: $vstat")
    val vtop = spark.read.parquet(s"$base/va/batch-1")
      .filter(col("rank") === 1).select("neighbor_id").head().getLong(0)
    assert(vtop == 10L, s"the query's exact vector twin must rank 1, got $vtop")
  }

  test("serve loop: a poison batch is quarantined (_FAILED) and later batches still serve; a restart skips it") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_servepoison").toString
    Seq((1L, "alpha join plan"), (2L, "beta sort spill"))
      .toDF("doc_id", "text").write.parquet(s"$base/docs.parquet")
    Main.runPipeline(spark, Seq("text-index-build",
      s"in=$base/docs.parquet", s"index=$base/tidx", "tparts=8"))
    // bad-1 sorts BEFORE good-2 and is malformed for the lexical path
    // (no qtext column): without quarantine the loop dies on it and
    // good-2 never serves — the wedged-queue failure mode
    Seq((7L, "oops")).toDF("query_id", "wrongcol").write.parquet(s"$base/q/bad-1")
    Seq((8L, "alpha join")).toDF("query_id", "qtext").write.parquet(s"$base/q/good-2")
    val st = Main.runPipeline(spark, Seq("serve",
      s"queries=$base/q", s"out=$base/a", s"text-index=$base/tidx",
      "topk=3", "pollms=100", "maxbatches=1"))
    assert(st.rowsIn == 1 && st.rowsOut > 0,
      s"the good batch must serve past the poison one: $st")
    assert(Files.exists(java.nio.file.Paths.get(s"$base/a/bad-1/_FAILED")),
      "the poison batch must be quarantined")
    assert(Files.exists(java.nio.file.Paths.get(s"$base/a/good-2/_SUCCESS")))
    val log = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$base/a/serve_log.jsonl")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(log.contains("\"batch\":\"bad-1\"") && log.contains("\"ok\":false")
      && log.contains("\"error\":"), log)
    assert(log.contains("\"batch\":\"good-2\"") && log.contains("\"ok\":true"), log)
    // a restarted serve skips BOTH (answered and quarantined) and
    // exits on .stop having done nothing
    new java.io.File(s"$base/q/.stop").createNewFile()
    val restat = Main.runPipeline(spark, Seq("serve",
      s"queries=$base/q", s"out=$base/a", s"text-index=$base/tidx",
      "topk=3", "pollms=100"))
    assert(restat.rowsIn == 0, s"restart must skip the quarantined batch: $restat")
  }

  test("serve loop: parallel=2 answers concurrently — per-batch results identical to sequential; a poison batch quarantines without taking the round down") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_servepar").toString
    Seq((1L, "alpha join plan"), (2L, "beta sort spill"), (3L, "gamma alpha hash"))
      .toDF("doc_id", "text").write.parquet(s"$base/docs.parquet")
    Main.runPipeline(spark, Seq("text-index-build",
      s"in=$base/docs.parquet", s"index=$base/tidx", "tparts=8"))
    // four good batches + one poison (no qtext), ALL visible in the
    // first poll round — the parallel pool meets them at once
    val good = Seq("b1" -> "alpha", "b2" -> "beta sort",
                   "b4" -> "gamma", "b5" -> "alpha hash")
    good.zipWithIndex.foreach { case ((n, q), i) =>
      Seq((100L + i, q)).toDF("query_id", "qtext").write.parquet(s"$base/q/$n") }
    Seq((7L, "oops")).toDF("query_id", "wrongcol").write.parquet(s"$base/q/b3")
    val st = Main.runPipeline(spark, Seq("serve",
      s"queries=$base/q", s"out=$base/par", s"text-index=$base/tidx",
      "topk=3", "pollms=100", "maxbatches=4", "parallel=2"))
    assert(st.rowsIn == 4, s"four good batches must serve: $st")
    assert(Files.exists(java.nio.file.Paths.get(s"$base/par/b3/_FAILED")),
      "the poison batch must quarantine under parallel too")
    // sequential loop, SAME queries, second out dir: parallelism is a
    // scheduling choice, not a semantics one — per-batch answers equal
    val seqSt = Main.runPipeline(spark, Seq("serve",
      s"queries=$base/q", s"out=$base/seq", s"text-index=$base/tidx",
      "topk=3", "pollms=100", "maxbatches=4"))
    assert(seqSt.rowsIn == 4, s"$seqSt")
    for ((n, _) <- good) {
      def rows(d: String) = spark.read.parquet(s"$base/$d/$n")
        .select("query_id", "rank", "doc_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(rows("par") == rows("seq"), s"batch $n parallel != sequential")
    }
    // the synchronized log survived concurrent writers: 5 attempts
    // (4 ok + 1 failed), no torn/dropped records
    val log = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$base/par/serve_log.jsonl")),
      java.nio.charset.StandardCharsets.UTF_8).linesIterator.toSeq
    assert(log.size == 5, s"five attempt records: $log")
    assert(log.count(_.contains("\"ok\":true")) == 4, s"$log")
    assert(log.count(_.contains("\"ok\":false")) == 1, s"$log")
    // the failed record's error (a Spark analysis message with plan
    // fragments) must be RFC-valid JSON: every control char escaped
    assert(log.forall(l => !l.exists(_ < ' ')),
      s"raw control characters in serve_log records: $log")
    // maxbatches above Int.MaxValue ("effectively unlimited") must not
    // truncate into a zero-length take that wedges the loop
    new java.io.File(s"$base/q/.stop").createNewFile()
    val bigSt = Main.runPipeline(spark, Seq("serve",
      s"queries=$base/q", s"out=$base/big", s"text-index=$base/tidx",
      "topk=3", "pollms=100", s"maxbatches=${1L << 32}"))
    assert(bigSt.rowsIn == 4,
      s"maxbatches=2^32 must serve the 4 good batches, not wedge: $bigSt")
  }

  test("takedown: one command sweeps sig + text + vector stores AND survivors; crashed sweep self-repairs; replay is a no-op") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_takedown").toString
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val textB = "one two three four five six seven eight nine ten eleven twelve thirteen"
    val dim = 16
    def vec(seed: Long) = graft.VecFixtures.unit(dim, seed)
    // the four state surfaces a doc id can live in
    val sig = new graft.streaming.SigIndex(spark, s"$base/state/sig", idCol = "doc_id")
    graft.streaming.Streaming.dedupNearBatch(
      Seq((1L, textA), (2L, textB)).toDF("doc_id", "text"),
      sig, "text", "doc_id", 0.8, 128, 16, 3, batchId = 1L).count()
    val ti = new graft.similarity.TextIndex(spark, s"$base/state/text_index", termParts = 8)
    ti.build(Seq((1L, textA), (2L, textB)).toDF("doc_id", "text"))
    val vi = new graft.similarity.PqIndex(spark, s"$base/state/index",
      dim = dim, m = 4, k = 4, nCells = 2, nProbe = 2, buckets = 2)
    vi.build(Seq((1L, vec(1)), (2L, vec(2)), (3L, vec(3))).toDF("id", "vec"))
    Seq((1L, "en", textA), (2L, "en", textB)).toDF("doc_id", "lang", "text")
      .write.parquet(s"$base/state/survivors/batch=1")
    Seq((3L, "en", "entirely unrelated prose about other things"))
      .toDF("doc_id", "lang", "text").write.parquet(s"$base/state/survivors/batch=2")

    Seq(1L).toDF("doc_id").write.parquet(s"$base/doomed.parquet")
    val st = Main.runPipeline(spark, Seq("takedown",
      s"in=$base/doomed.parquet", s"state=$base/state", "vacuum=true"))
    assert(st.rowsIn == 1, s"one id: $st")
    // sig 1 doc + text postings (14 words) + 1 vector + 1 survivor row
    assert(st.rowsOut >= 1 + 14 + 1 + 1, s"swept rows: $st")
    // sig: a future near-copy of the doomed doc survives (no ghost)
    assert(graft.streaming.Streaming.dedupNearBatch(
      Seq((9L, textA)).toDF("doc_id", "text"), sig, "text", "doc_id",
      0.8, 128, 16, 3, batchId = 2L).count() == 1L)
    // text: the doomed doc stops matching its own words; others serve
    val th = ti.search(Seq(1 -> "alpha beta"), 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!th.contains(1L), s"text hits after takedown: $th")
    // vector: the doomed id stops surfacing
    val vh = vi.topK(Seq((99L, vec(1))).toDF("id", "vec"), 3)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(!vh.contains(1L), s"vector hits after takedown: $vh")
    // survivors: the touched batch dir was rewritten, the other left
    val s1 = spark.read.parquet(s"$base/state/survivors/batch=1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == Set(2L), s"survivors batch=1 after takedown: $s1")
    assert(spark.read.parquet(s"$base/state/survivors/batch=2").count() == 1L)
    // the lease is released on exit
    assert(!Files.exists(java.nio.file.Paths.get(s"$base/state/.lease.txt")))
    // replay: every delete is a committed no-op
    val again = Main.runPipeline(spark, Seq("takedown",
      s"in=$base/doomed.parquet", s"state=$base/state"))
    assert(again.rowsOut == 0, s"replayed takedown must remove nothing: $again")
    // crashed-sweep repair: a park left with its original MISSING
    // (crash between park and swap-in) is restored at the next entry
    val fs0 = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs0.rename(
      new org.apache.hadoop.fs.Path(s"$base/state/survivors/batch=2"),
      new org.apache.hadoop.fs.Path(s"$base/state/survivors/.takedown-old-batch=2")))
    Main.runPipeline(spark, Seq("takedown",
      s"in=$base/doomed.parquet", s"state=$base/state"))
    assert(spark.read.parquet(s"$base/state/survivors/batch=2").count() == 1L,
      "a parked survivors dir with no original must be restored")
  }

  test("takedown refuses a flat survivors layout up front; the lease is still released") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_takedown_flat").toString
    // a FULL run's survivors: flat parquet, no batch= partition dirs
    Seq((1L, "en", "some text"), (2L, "en", "other text"))
      .toDF("doc_id", "lang", "text").write.parquet(s"$base/state/survivors")
    Seq(1L).toDF("doc_id").write.parquet(s"$base/doomed.parquet")
    val e = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("takedown", s"in=$base/doomed.parquet", s"state=$base/state")))
    assert(e.getMessage.contains("flat"), e.getMessage)
    // refused before work AND released the lease on the way out
    assert(!Files.exists(java.nio.file.Paths.get(s"$base/state/.lease.txt")))
    assert(spark.read.parquet(s"$base/state/survivors").count() == 2L,
      "a refused takedown must not have touched the survivors")
  }

  test("takedown sweeps the CONTENT artifacts: shards text + pack token ids; journal records; replay re-affirms") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_td_content").toString
    // distinct bodies so clean never near-dups them; doc 1 carries a
    // unique marker word whose absence after the sweep is the claim
    // every body clears the clean stage's quality floor (enough words
    // + stopwords) while staying pairwise distinct (no near-dup pairs)
    def body(i: Long): String = i match {
      case 1L => "zuluunique is the word that marks the doomed document and it rides in every content artifact"
      case 2L => "kilo lima mike is a sequence of phonetic words and it stays in the corpus to the end"
      case 3L => "uniform victor whiskey and the other call signs remain in place as part of a healthy corpus"
      case 10L => "gradient descent updates a weight of the model and the loss moves to a lower value in training"
      case 11L => "parquet row groups carry the column statistics that a reader uses to prune in a scan of data"
      case 20L => "the quick brown fox jumps over a lazy dog near the bank of a quiet river in autumn"
      case 21L => "seven samurai defend a village in the rain and the long season passes to an uneasy peace"
      case n => sys.error(s"no body for $n")
    }
    def write(name: String, ids: Seq[Long]): String = {
      val p = s"$base/$name.parquet"
      ids.map(i => (i, "en", body(i))).toDF("doc_id", "lang", "text").write.parquet(p)
      p
    }
    def run(in: String, batch: Long): Unit =
      Main.runPipeline(spark, Seq("corpus-pipeline", s"in=$in",
        s"out=$base/out", "steps=clean,shard,pack", "incremental=true",
        s"state=$base/state", s"batch=$batch", "shards=2", "packbudget=512",
        "buckets=1", "nmerges=30"))
    run(write("b1", Seq(1L, 2L, 3L)), 1L)
    run(write("b2", Seq(10L, 11L)), 2L)
    run(write("b3", Seq(20L, 21L)), 3L)
    val frozenMerges = graft.functions.Bpe.readMerges(spark, s"$base/state/pack/merges")
    val frozenVocab = graft.functions.Bpe.readVocab(spark, s"$base/state/pack/vocab")
    def decodeAll(batch: Long): String =
      spark.read.parquet(s"$base/state/packs").filter(col("batch") === batch)
        .select(explode(col("token_ids")).as("id")).collect()
        .map(r => { val id = r.getInt(0); if (id >= 0) frozenVocab(id) else "<UNK>" })
        .mkString
    // pre-takedown truth: the doomed doc's verbatim text rides shards,
    // its decodable tokens ride packs (this is exactly the r14 hole)
    val shardsPre = spark.read.parquet(s"$base/state/shards")
    assert(shardsPre.filter(col("text").contains("zuluunique")).count() == 1L)
    assert(decodeAll(1L).contains("zuluunique"))
    // surviving rows must keep their checkpointable positions: capture
    // (doc_id -> shard, shard_pos) for the co-batch survivors
    val posPre = shardsPre.filter(col("doc_id").isin(2L, 3L))
      .select("doc_id", "shard", "shard_pos").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    // untouched batch dirs must not be rewritten: capture batch=3 files
    def fileSet(p: String): Set[String] = {
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs0 = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs0.listFiles(hp, true)
      val b = Set.newBuilder[String]
      while (it.hasNext) { val f = it.next(); b += s"${f.getPath}@${f.getModificationTime}" }
      b.result()
    }
    val b3Shards = fileSet(s"$base/state/shards/batch=3")
    val b3Packs = fileSet(s"$base/state/packs/batch=3")
    // doom doc 1 (batch 1, co-packed with 2 and 3) and BOTH docs of
    // batch 2 (its pack must drop entirely)
    Seq(1L, 10L, 11L).toDF("doc_id").write.parquet(s"$base/doomed.parquet")
    val st = Main.runPipeline(spark, Seq("takedown", s"in=$base/doomed.parquet",
      s"state=$base/state", "vacuum=true", "asof=12345"))
    assert(st.rowsIn == 3, s"$st")
    // shards: the doomed ids and the marker text are GONE; survivors
    // keep their exact (shard, shard_pos); untouched batch unrewritten
    val shardsPost = spark.read.parquet(s"$base/state/shards")
    assert(shardsPost.filter(col("doc_id").isin(1L, 10L, 11L)).count() == 0L)
    assert(shardsPost.filter(col("text").contains("zuluunique")).count() == 0L,
      "the doomed doc's verbatim text must be grep-absent from state/shards")
    val posPost = shardsPost.filter(col("doc_id").isin(2L, 3L))
      .select("doc_id", "shard", "shard_pos").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(posPost == posPre, s"survivor positions must not shift: $posPre -> $posPost")
    assert(fileSet(s"$base/state/shards/batch=3") == b3Shards, "untouched shards rewritten")
    assert(fileSet(s"$base/state/packs/batch=3") == b3Packs, "untouched packs rewritten")
    // packs: the touched pack KEEPS its pack_id, drops only the doomed
    // member, and its token_ids are byte-identical to re-encoding the
    // survivors under the frozen model; the fully-doomed pack vanishes
    val b1Packs = spark.read.parquet(s"$base/state/packs").filter(col("batch") === 1)
      .select("pack_id", "doc_ids", "token_ids", "n_docs", "n_tokens").collect()
    assert(b1Packs.length == 1, s"batch 1 had one pack: ${b1Packs.length}")
    val p0 = b1Packs.head
    assert(p0.getSeq[Long](1) == Seq(2L, 3L), s"kept members: ${p0.getSeq[Long](1)}")
    val expectedIds = Seq(2L, 3L).flatMap(i =>
      Seq((i, body(i))).toDF("doc_id", "text")
        .select(graft.functions.Bpe.bpeEncodeIds(col("text"), frozenMerges, frozenVocab))
        .head().getSeq[Int](0))
    assert(p0.getSeq[Int](2) == expectedIds,
      "surviving members' token ids must be byte-identical to the frozen-model encode")
    assert(p0.getLong(3) == 2L && p0.getLong(4) == expectedIds.size.toLong,
      "n_docs/n_tokens recomputed")
    assert(spark.read.parquet(s"$base/state/packs").filter(col("batch") === 2).count() == 0L,
      "a pack whose every member is doomed must drop entirely")
    val decoded = decodeAll(1L)
    assert(!decoded.contains("zuluunique"), "doomed content must not decode from any pack")
    // the BPE pre-tokenizer is whitespace-splitting, so decode
    // concatenates words without spaces
    assert(decoded.contains("kilolimamike"), "co-member content must survive")
    // journal: one record with the per-surface counts and the caller's
    // asof; replay removes nothing and RE-AFFIRMS (not erases) it
    val td = spark.read.parquet(s"$base/state/takedowns").collect()
    assert(td.length == 1, s"one takedown record: ${td.length}")
    def f(r: org.apache.spark.sql.Row, c: String) = r.getLong(r.fieldIndex(c))
    assert(f(td.head, "n_ids") == 3L && f(td.head, "asof_ms") == 12345L)
    assert(f(td.head, "shard_rows") == 3L, s"${td.head}")
    assert(f(td.head, "pack_members") == 3L, s"${td.head}")
    assert(f(td.head, "survivor_rows") == 3L, s"${td.head}")
    val again = Main.runPipeline(spark, Seq("takedown", s"in=$base/doomed.parquet",
      s"state=$base/state"))
    assert(again.rowsOut == 0, s"replay must remove nothing: $again")
    val td2 = spark.read.parquet(s"$base/state/takedowns").collect()
    assert(td2.length == 1, "a replay overwrites its OWN record")
    assert(f(td2.head, "shard_rows") == 3L && f(td2.head, "rows_removed") == f(td.head, "rows_removed"),
      "a no-op replay re-affirms the original totals, never zeroes them")
    assert(td2.head.getBoolean(td2.head.fieldIndex("vacuumed")),
      "a replay WITHOUT vacuum= must re-affirm that the original " +
        "removal vacuumed the bytes, not erase the compliance fact")
    // a crash between "delete old record" and "swap staged record in"
    // leaves the newer cumulative record in the stage dir — the next
    // replay must adopt it, not reset the totals to its own zeros
    val tdRoot = new java.io.File(s"$base/state/takedowns")
    val tdName = tdRoot.listFiles().map(_.getName).filter(_.startsWith("td=")).head
    val fsJ = new org.apache.hadoop.fs.Path(s"$base/state/takedowns")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fsJ.rename(
      new org.apache.hadoop.fs.Path(s"$base/state/takedowns/$tdName"),
      new org.apache.hadoop.fs.Path(
        s"$base/state/takedowns/.td-stage-${tdName.stripPrefix("td=")}")),
      "simulating the crash window")
    val again2 = Main.runPipeline(spark, Seq("takedown", s"in=$base/doomed.parquet",
      s"state=$base/state"))
    assert(again2.rowsOut == 0, s"$again2")
    val td3 = spark.read.parquet(s"$base/state/takedowns").collect()
    assert(td3.length == 1 && f(td3.head, "rows_removed") == f(td.head, "rows_removed"),
      "the crashed overwrite's staged record must be adopted, totals intact")
    assert(td3.head.getBoolean(td3.head.fieldIndex("vacuumed")), s"${td3.head}")
    // pipeline-stats renders the journal
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true)) {
      Main.runPipeline(spark, Seq("pipeline-stats", s"state=$base/state"))
    }
    assert(buf.toString.contains("takedown_records=1"), buf.toString)
    assert(buf.toString.contains("takedown_ids=3"), buf.toString)
  }

  test("takedown refuses up front when packs exist without the frozen model; unknown state surfaces warn loudly") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_td_guard").toString
    // a packs tree with NO state/pack model: unsweepable — refuse
    // before any store is touched
    Seq((1L, Seq(1L, 2L), Seq(0, 1, 2), 2L, 3L))
      .toDF("pack_id", "doc_ids", "token_ids", "n_docs", "n_tokens")
      .write.parquet(s"$base/state/packs/batch=1")
    Seq((1L, "en", "some text"), (2L, "en", "other text"))
      .toDF("doc_id", "lang", "text").write.parquet(s"$base/state/survivors/batch=1")
    Seq(1L).toDF("doc_id").write.parquet(s"$base/doomed.parquet")
    val e = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("takedown", s"in=$base/doomed.parquet", s"state=$base/state")))
    assert(e.getMessage.contains("frozen BPE model"), e.getMessage)
    assert(spark.read.parquet(s"$base/state/survivors").count() == 2L,
      "a refused takedown must not have swept the survivors first")
    assert(!Files.exists(java.nio.file.Paths.get(s"$base/state/.lease.txt")))
    // an unrecognized state-root dir draws a LOUD warning (a future
    // content surface must never be silently skipped again)
    val base2 = Files.createTempDirectory("graft_main_td_unknown").toString
    Seq((9L, "en", "captions or transcripts")).toDF("doc_id", "lang", "text")
      .write.parquet(s"$base2/state/transcripts/batch=1")
    Seq(9L).toDF("doc_id").write.parquet(s"$base2/doomed.parquet")
    val errBuf = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    try {
      System.setErr(new java.io.PrintStream(errBuf, true))
      Main.runPipeline(spark, Seq("takedown", s"in=$base2/doomed.parquet",
        s"state=$base2/state"))
    } finally System.setErr(realErr)
    assert(errBuf.toString.contains("not a") && errBuf.toString.contains("transcripts"),
      s"unknown surface must warn: ${errBuf.toString.takeRight(400)}")
  }

  test("pipeline subcommands: corpus-mix / corpus-split / select-budget e2e") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_main_mix").toString
    // two languages, en oversupplied: mix must downsample en only, and
    // select-budget must truncate en's quality ranking at the budget
    val docs = ((0L until 200L).map(d => (d, "en", "alpha beta gamma delta " * 10)) ++
      (1000L until 1010L).map(d => (d, "de", "eins zwei drei vier " * 10)))
      .toDF("doc_id", "lang", "text")
    docs.write.parquet(s"$base/docs.parquet")

    val mixed = Main.runPipeline(spark, Seq("corpus-mix",
      s"in=$base/docs.parquet", s"out=$base/mixed", "budget=2000"))
    assert(mixed.rowsIn == 210)
    val mix = spark.read.parquet(s"$base/mixed")
    val byLang = mix.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("de") == 10, "under-supplied language must be kept whole")
    assert(byLang("en") < 200, "over-supplied language must be downsampled")
    // CLI budget is honored: en's kept token mass ≈ its 1000-token slice
    val enTokens = mix.filter(col("lang") === "en")
      .agg(sum("n_tokens")).head().getLong(0)
    assert(enTokens <= 1300, s"en must be near its 1000-token slice, got $enTokens")

    val split = Main.runPipeline(spark, Seq("corpus-split",
      s"in=$base/docs.parquet", s"out=$base/split", "valpct=10", "testpct=10"))
    assert(split.rowsOut == 210, "split assigns every doc")
    val sp = spark.read.parquet(s"$base/split")
    val kinds = sp.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kinds.keySet.subsetOf(Set("train", "val", "test")) && kinds("train") > 100)
    // determinism: re-running the CLI reproduces the same assignment
    Main.runPipeline(spark, Seq("corpus-split",
      s"in=$base/docs.parquet", s"out=$base/split2", "valpct=10", "testpct=10"))
    val a = sp.orderBy("doc_id").collect().toSeq
    val b = spark.read.parquet(s"$base/split2").orderBy("doc_id").collect().toSeq
    assert(a == b, "the split must be a pure function of doc_id")

    val picked = Main.runPipeline(spark, Seq("select-budget",
      s"in=$base/docs.parquet", s"out=$base/picked", "budget=500"))
    val pk = spark.read.parquet(s"$base/picked")
    assert(picked.rowsOut < 210, "the budget must truncate the over-supplied language")
    // the CLI's pruned form is bit-identical to the exact window form
    val exact = graft.queries.PipelineQueries.corpusSelectBudgetDocs(
      spark.read.parquet(s"$base/docs.parquet"), 500L)
    assert(pk.orderBy("doc_id").collect().toSeq ==
      exact.select(pk.columns.map(col): _*).orderBy("doc_id").collect().toSeq,
      "pruned and exact select-budget must agree bit-identically")
  }

  test("pipeline subcommands: corpus-stats and decontaminate e2e") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_main_stats").toString
    val docs = Seq(
      (1L, "en", "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "en", "one two three four five six seven eight nine"),
      (3L, "de", "eins zwei drei vier funf sechs sieben acht")).toDF("doc_id", "lang", "text")
    docs.write.parquet(s"$base/docs.parquet")

    val stats = Main.runPipeline(spark, Seq("corpus-stats",
      s"in=$base/docs.parquet", s"out=$base/stats"))
    assert(stats.rowsIn == 3 && stats.rowsOut == 2, "one stats row per language")
    val st = spark.read.parquet(s"$base/stats")
    val en = st.filter(col("lang") === "en").head()
    assert(en.getLong(en.fieldIndex("n_docs")) == 2)
    assert(en.getLong(en.fieldIndex("min_chars")) > 0, "n_chars derived from text")

    // eval suite shares doc 1's 5-gram run; doc 2/3 are clean
    Seq((100L, "question: alpha beta gamma delta epsilon — answer"))
      .toDF("doc_id", "text").write.parquet(s"$base/evals.parquet")
    val flagged = Main.runPipeline(spark, Seq("decontaminate",
      s"in=$base/docs.parquet", s"evals=$base/evals.parquet", s"out=$base/flagged"))
    val hits = spark.read.parquet(s"$base/flagged")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.rowsOut == 1 && hits.contains(1L) && hits(1L) >= 1,
      s"only the doc sharing eval 5-grams is flagged, got $hits")

    // bloom=true must produce the identical flag set through the CLI
    val flaggedB = Main.runPipeline(spark, Seq("decontaminate", "bloom=true",
      s"in=$base/docs.parquet", s"evals=$base/evals.parquet", s"out=$base/flagged_b"))
    val hitsB = spark.read.parquet(s"$base/flagged_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flaggedB.rowsOut == flagged.rowsOut && hitsB == hits,
      "bloom prefilter form must flag identically through the CLI")
  }

  test("pipeline subcommand: dsir-select e2e") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_main_dsir").toString
    // targets speak 'science'; half the candidates do too
    val sci = "quantum entanglement spectral decomposition tensor manifold " * 4
    val spo = "goalkeeper penalty halftime referee offside striker corner " * 4
    (1L to 6L).map(i => (i, sci)).toDF("doc_id", "text")
      .write.parquet(s"$base/targets.parquet")
    ((10L to 14L).map(i => (i, sci)) ++ (20L to 24L).map(i => (i, spo)))
      .toDF("doc_id", "text").write.parquet(s"$base/cands.parquet")
    val r = Main.runPipeline(spark, Seq("dsir-select", "frac=0.5",
      s"in=$base/cands.parquet", s"targets=$base/targets.parquet",
      s"out=$base/sel"))
    val sel = spark.read.parquet(s"$base/sel")
      .collect().map(_.getLong(0)).toSet
    assert(r.rowsIn == 10 && r.rowsOut == 5)
    assert(sel == (10L to 14L).toSet,
      s"the science-vocabulary candidates must win the importance weights, got $sel")
  }

  test("pipeline subcommands: corpus-scrub and quality-score e2e") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_main_scrub").toString
    val boiler = "terms of service apply"
    (Seq(1L, 2L, 3L).map(i => (i, s"$boiler doc $i unique body")) :+
      ((4L, "doc four unique body")))
      .toDF("doc_id", "text").write.parquet(s"$base/docs.parquet")
    val r = Main.runPipeline(spark, Seq("corpus-scrub", "w=4", "mindocs=3",
      s"in=$base/docs.parquet", s"out=$base/scrubbed"))
    // rows_out counts docs that LOST a span; the output holds all 4
    assert(r.rowsIn == 4 && r.rowsOut == 3)
    val out = spark.read.parquet(s"$base/scrubbed")
    assert(out.count() == 4)
    assert(!out.filter($"doc_id" === 1L).head().getString(1).contains("terms"))

    // quality-score: explicit weights table makes one doc's vocab win
    val q = Seq((10L, "alpha beta"), (11L, "zzz zzz")).toDF("doc_id", "text")
    q.write.parquet(s"$base/qdocs.parquet")
    // shipped table: +1 everywhere except doc 11's gram buckets at -1
    // (bucket ids recomputed here with the documented hash so the test
    // doesn't depend on the production code to build its own fixture)
    val zb = Seq("zzz", "zzz zzz").map { g =>
      var h = 7L
      g.getBytes("UTF-8").foreach(b => h = (h * 31 + (b & 0xFF)) % 2147483647L)
      (((h * 1103515245L + 12345L) % 2147483647L) % 4096L).toInt
    }.toSet
    (0 until 4096).map(b => (b, if (zb(b)) -1L else 1L))
      .toDF("bucket", "weight_milli").write.parquet(s"$base/weights.parquet")
    val r2 = Main.runPipeline(spark, Seq("quality-score",
      s"in=$base/qdocs.parquet", s"out=$base/scored",
      s"weights=$base/weights.parquet"))
    assert(r2.rowsIn == 2 && r2.rowsOut == 1)
    val kept = spark.read.parquet(s"$base/scored").filter($"keep")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L), s"weighted vocabulary must decide keep: $kept")
  }

  test("pipeline subcommands: quality-train → quality-score round trip") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_main_qtrain").toString
    val good = Seq(
      (1L, "the committee reviewed the annual report and approved the budget"),
      (2L, "researchers published a detailed study of coastal erosion and harbors"))
    val bad = Seq(
      (10L, "click here buy cheap pills winner free prize claim now"),
      (11L, "subscribe smash that button giveaway jackpot bonus code claim"))
    good.toDF("doc_id", "text").write.parquet(s"$base/good.parquet")
    bad.toDF("doc_id", "text").write.parquet(s"$base/bad.parquet")
    val rt = Main.runPipeline(spark, Seq("quality-train",
      s"good=$base/good.parquet", s"bad=$base/bad.parquet", s"out=$base/weights"))
    assert(rt.rowsIn == 4 && rt.rowsOut == 4096)
    // held-out docs reuse each vocabulary in fresh combinations
    Seq((20L, "the committee published a detailed report of the budget"),
      (21L, "click subscribe free bonus jackpot claim winner now"))
      .toDF("doc_id", "text").write.parquet(s"$base/held.parquet")
    val rs = Main.runPipeline(spark, Seq("quality-score",
      s"in=$base/held.parquet", s"out=$base/scored", s"weights=$base/weights"))
    assert(rs.rowsIn == 2 && rs.rowsOut == 1)
    val kept = spark.read.parquet(s"$base/scored").filter($"keep")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(20L), s"trained weights must keep the good-vocab doc: $kept")
  }

  test("pipeline subcommands: bpe-train → bpe-encode round trip; builtin fallback") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_main_bpe").toString
    val docs = (Seq.fill(20)("the window of the window") ++ Seq.fill(2)("zq zq"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    docs.toDF("doc_id", "text").write.parquet(s"$base/docs.parquet")
    val rt = Main.runPipeline(spark, Seq("bpe-train", "merges=8",
      s"in=$base/docs.parquet", s"out=$base/merges"))
    assert(rt.rowsIn == 22 && rt.rowsOut == 8)
    val re = Main.runPipeline(spark, Seq("bpe-encode",
      s"in=$base/docs.parquet", s"out=$base/enc", s"merges=$base/merges"))
    assert(re.rowsIn == 22 && re.rowsOut == 22)
    val enc = spark.read.parquet(s"$base/enc")
      .select("doc_id", "n_tokens").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // dominant words compress to whole-word tokens: 5 words -> 5 tokens
    assert(enc(0L) == 5L, s"'the window of the window' must be 5 trained tokens, got ${enc(0L)}")
    // the rare word stays character-split: 'zq zq' -> 4 tokens
    assert(enc(20L) == 4L, s"'zq zq' must stay split, got ${enc(20L)}")
    // builtin fallback runs without merges=
    val rb = Main.runPipeline(spark, Seq("bpe-encode",
      s"in=$base/docs.parquet", s"out=$base/enc_builtin"))
    assert(rb.rowsOut == 22)
  }

  test("every pipeline subcommand is ROUTED: main() dispatch set covers runPipeline's cases") {
    // a command handled by runPipeline but missing from
    // PipelineCommands silently falls through to the tag-engine run()
    // (which treats unknown commands as a full tag run) — langid and
    // quality-train shipped exactly that way in r7/r8
    val docs = java.nio.file.Files.createTempDirectory("graft_main_route").toString
    Seq("corpus-clean", "index-build", "index-search", "index-delete",
      "text-index-build", "text-index-search", "corpus-mix", "corpus-split",
      "select-budget", "corpus-shard", "corpus-stats", "decontaminate",
      "contamination-score", "dsir-select", "corpus-scrub", "quality-score",
      "quality-train", "langid", "bpe-train", "bpe-encode", "corpus-pack",
      "corpus-pipeline", "runs-report", "query", "sql",
      "index-stats", "text-index-stats", "sig-stats", "sig-delete",
      "serve", "takedown").foreach { c =>
      assert(Main.PipelineCommands(c), s"'$c' must be routed to runPipeline")
    }
    // and the handler map fails by name for anything the router passes
    val e = intercept[RuntimeException](
      Main.runPipeline(spark, Seq("definitely-not-a-command", s"in=$docs")))
    assert(e.getMessage.contains("unknown pipeline command"))
  }

  test("entry points the benchmark build calls keep their names and signatures") {
    // perfbench compiles graft's sources and calls these by name: a
    // signature break must fail this compile, not only that build
    val run: (org.apache.spark.sql.SparkSession, GraftConfig, Seq[String]) => Main.RunStats =
      Main.run
    val runPipeline: (org.apache.spark.sql.SparkSession, Seq[String]) => Main.PipelineStats =
      Main.runPipeline
    val stats = Main.RunStats("full", 2L, 3L, Map(1 -> 2L), Seq((9, "bad")),
      Seq("t"), 0L, 1.5)
    assert(stats.missingAfterWrite == 0L && stats.perTagHits == Map(1 -> 2L))
    assert(run ne null)
    val listed = Console.withOut(new java.io.ByteArrayOutputStream()) {
      runPipeline(spark, Seq("query", "name=list"))
    }
    assert(listed.command == "query" && listed.rowsOut == SparkEntry.queries.size.toLong)
  }

  test("corpus-pipeline: the one-shot curation DAG drops each planted defect at its stage") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_main_pipe").toString
    val onVocab = Seq("model", "training", "corpus", "token", "gradient",
      "layer", "attention", "embedding", "loss", "batch", "epoch", "weight")
    val offVocab = Seq("recipe", "butter", "flour", "oven", "bake",
      "sugar", "dough", "pan", "mix", "cream", "salt", "yeast")
    val footer = "subscribe to our newsletter for daily updates now"
    // 60 words = 5 seeded shuffles of the 12-word domain vocab: every
    // gram is a DOMAIN gram (no filler noise in the hashed DSIR
    // feature space — a filler-based fixture drowned the signal in
    // bucket-collision noise), while random permutations keep
    // cross-doc 3-shingle overlap near zero (no spurious dedup) and
    // chunk-aligned 4-word windows effectively unique (no spurious
    // scrub hits)
    def content(vocab: Seq[String], seed: Long): String = {
      val rnd = new scala.util.Random(seed)
      Seq.fill(5)(rnd.shuffle(vocab)).flatten.mkString(" ")
    }
    val docs =
      (0L until 15L).map(i =>
        (i, if (i < 12) "en" else "zz", footer + " " + content(onVocab, i))) ++
      (20L until 35L).map(i => (i, "en", content(offVocab, i))) ++
      Seq((50L, "en", footer + " " + content(onVocab, 0) + " tailzz"), // near-dup of doc 0 -> clean
          (51L, "en", "ZZZZ!!! @@@@ 9999 ####"))                       // junk -> quality floor
    docs.toDF("doc_id", "lang", "text").write.parquet(s"$base/docs.parquet")
    // eval doc = doc 3's content verbatim -> decontaminate drops doc 3
    Seq((900L, content(onVocab, 3L))).toDF("doc_id", "text")
      .write.parquet(s"$base/evals.parquet")
    val targets = (100L until 110L).map(i => (i, content(onVocab, 1000L + i)))
    targets.toDF("doc_id", "text").write.parquet(s"$base/targets.parquet")

    // frac 0.48 of the 29 post-decontaminate docs = 14 = exactly the
    // on-topic remainder, so select's top-k IS the domain boundary
    val r = Main.runPipeline(spark, Seq("corpus-pipeline",
      s"in=$base/docs.parquet", s"out=$base/out",
      s"evals=$base/evals.parquet", s"targets=$base/targets.parquet",
      "frac=0.48", "w=4", "mindocs=3", "budget=800", "shards=4",
      "nmerges=40", "packbudget=128", "buckets=2"))
    assert(r.rowsIn == 32, s"fixture: $r")

    val survivors = spark.read.parquet(s"$base/out/survivors")
      .collect().map(x => x.getLong(0) -> x.getString(2)).toMap
    val ids = survivors.keySet
    assert(r.rowsOut == ids.size.toLong)
    // stage drops: 50 (near-dup) + 51 (junk) at clean; 3 at
    // decontaminate (exact + near vs the eval); 20-34 at select
    assert(!ids.contains(50L) && !ids.contains(51L), "clean drops dup + junk")
    assert(!ids.contains(3L), "decontaminate drops the eval near-copy")
    assert(ids.forall(_ < 15L), s"select keeps only on-topic docs: $ids")
    // mix: zz rides whole, en downsamples to a proper subset
    assert(Set(12L, 13L, 14L).subsetOf(ids), s"tail language kept whole: $ids")
    val enKept = ids.count(_ < 12L)
    assert(enKept > 0 && enKept < 11, s"en must downsample (11 in, kept $enKept)")
    // scrub ran before the final text was materialized
    assert(survivors.values.forall(t => !t.contains("newsletter")),
      "survivor text is scrubbed")
    // physical outputs: shards cover the survivors, packs cover them
    // with the in-pipeline-trained model, model artifacts exist
    val shardIds = spark.read.parquet(s"$base/out/shards")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(shardIds == ids, s"shards hold exactly the survivors: $shardIds vs $ids")
    val packs = spark.read.parquet(s"$base/out/packs").collect()
    assert(packs.flatMap(_.getSeq[Long](1)).toSet == ids, "packs cover the survivors")
    assert(packs.forall(p => !p.getSeq[Int](2).contains(-1)), "self-trained vocab: no OOV")
    assert(spark.read.parquet(s"$base/out/merges").count() > 0)
    assert(spark.read.parquet(s"$base/out/vocab").count() > 0)
    // the run record: stats.json carries EVERY step in execution
    // order (side-effect stages included — their wall time is the
    // curator's first question about a slow run) plus input/survivors
    val stats = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$base/out", "stats.json"))
    val stages = """"stage":"([a-z]+)"""".r.findAllMatchIn(stats).map(_.group(1)).toSeq
    assert(stages == Seq("input", "clean", "decontaminate", "scrub", "select",
      "mix", "shard", "pack", "survivors"), s"stage order in stats.json: $stages ($stats)")
    assert(stats.contains(s""""stage":"survivors","docs":${ids.size}"""), stats)
    // every stage entry carries its wall seconds
    assert(""""sec":""".r.findAllMatchIn(stats).size == stages.size, stats)
    // the budget the mix stage actually applied is in the run record
    assert(stats.contains(""""mix_budget_tokens":800"""), stats)
  }

  test("corpus-pipeline: mix without budget= is keep-all, recorded as such (never a silent gate-scale literal)") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_main_keepall").toString
    // enough real text to clear the clean stage's quality floor; en
    // heavily oversupplied vs zz so ANY default token budget near the
    // old 20k literal would downsample it
    def body(seed: Long) = {
      val rnd = new scala.util.Random(seed)
      Seq.fill(6)(rnd.shuffle(Seq("the", "model", "is", "training", "on", "a",
        "large", "corpus", "of", "documents", "and", "it"))).flatten.mkString(" ")
    }
    val docs = (0L until 40L).map(i => (i, if (i < 36) "en" else "zz", body(i)))
    docs.toDF("doc_id", "lang", "text").write.parquet(s"$base/docs.parquet")
    val r = Main.runPipeline(spark, Seq("corpus-pipeline",
      s"in=$base/docs.parquet", s"out=$base/out", "steps=mix"))
    // keep-all: every doc survives the mix stage untouched
    assert(r.rowsIn == 40 && r.rowsOut == 40, s"no-budget mix must keep the supply: $r")
    val stats = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$base/out", "stats.json"))
    assert(stats.contains(""""mix_budget_tokens":null"""), stats)
    assert(stats.contains(""""stage":"mix","docs":40"""), stats)
  }

  test("corpus-pipeline resume=true: re-runs adopt completed stages; a tampered prefix PROVES adoption; plan conflicts refuse") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_resume").toString
    val vocab = Seq("model", "training", "corpus", "token", "gradient",
      "layer", "attention", "embedding", "loss", "batch", "epoch", "weight")
    val footer = "subscribe newsletter daily updates" // 4 words, w=4-aligned
    def content(seed: Long): String = {
      val rnd = new scala.util.Random(seed)
      Seq.fill(5)(rnd.shuffle(vocab)).flatten.mkString(" ")
    }
    // footer FIRST so its chunk stays w=4-aligned after the 60-word body
    val docs = (0L until 10L).map(i => (i, "en", footer + " " + content(i)))
    docs.toDF("doc_id", "lang", "text").write.parquet(s"$base/docs.parquet")
    val args = Seq("corpus-pipeline", s"in=$base/docs.parquet", s"out=$base/out",
      "steps=clean,scrub,shard", "w=4", "mindocs=3", "shards=2", "resume=true")
    def survivors(): Set[Long] = spark.read.parquet(s"$base/out/survivors")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def stats(): String =
      Files.readString(java.nio.file.Paths.get(s"$base/out", "stats.json"))

    val r1 = Main.runPipeline(spark, args)
    assert(r1.rowsOut == 10, s"clean run: $r1")
    assert(survivors() == (0L until 10L).toSet)
    // stage artifacts committed: transform stages leave their frame,
    // side-effect stages a bare marker, plus the plan record
    assert(Files.exists(java.nio.file.Paths.get(s"$base/out/stages/0_clean/_SUCCESS")))
    assert(Files.exists(java.nio.file.Paths.get(s"$base/out/stages/1_scrub/_SUCCESS")))
    assert(Files.exists(java.nio.file.Paths.get(s"$base/out/stages/2_shard.done")))
    assert(Files.exists(java.nio.file.Paths.get(s"$base/out/stages/plan.txt")))
    assert(!stats().contains("resumed"), stats())

    // a full re-run adopts every stage and says so in the run record
    val r2 = Main.runPipeline(spark, args)
    assert(r2.rowsOut == 10)
    assert(survivors() == (0L until 10L).toSet)
    assert(""""resumed":true""".r.findAllMatchIn(stats()).size == 3,
      s"all three stages adopt on a complete re-run: ${stats()}")

    // the adoption PROOF: tamper the committed clean output (drop doc
    // 0), invalidate the later stages, re-run — the final survivors
    // must reflect the tampered frame, which only happens if the
    // resumed run READ it instead of recomputing clean from raw input
    // (raw still holds doc 0)
    val cleanDir = s"$base/out/stages/0_clean"
    val tampered = spark.read.parquet(cleanDir)
      .filter(col("doc_id") =!= 0L).localCheckpoint()
    tampered.write.mode("overwrite").parquet(cleanDir)
    def rmTree(p: String): Unit = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    }
    rmTree(s"$base/out/stages/1_scrub")
    rmTree(s"$base/out/stages/2_shard.done")
    val r3 = Main.runPipeline(spark, args)
    assert(r3.rowsOut == 9, s"resume must adopt the tampered clean frame: $r3")
    assert(survivors() == (1L until 10L).toSet)
    // the downstream stages really ran over the adopted frame
    assert(spark.read.parquet(s"$base/out/survivors")
      .filter(col("text").contains("subscribe")).count() == 0L,
      "scrub recomputed over the adopted clean output")

    // a resume whose plan differs from the crashed run's refuses —
    // silently composing half-old half-new stage outputs is worse
    // than starting over
    val ePlan = intercept[IllegalArgumentException](
      Main.runPipeline(spark, args.filterNot(_ == "mindocs=3") :+ "mindocs=4"))
    assert(ePlan.getMessage.contains("plan differs"), ePlan.getMessage)

    // an ADOPTED budgeted mix stage must still record its budget: the
    // run record's mix_budget_tokens null means keep-all by contract,
    // and the adopted frame ran under THIS plan's budget= (plan
    // conflicts refuse above)
    val mixArgs = Seq("corpus-pipeline", s"in=$base/docs.parquet",
      s"out=$base/outmix", "steps=clean,mix", "budget=200", "resume=true")
    def mixStats(): String =
      Files.readString(java.nio.file.Paths.get(s"$base/outmix", "stats.json"))
    Main.runPipeline(spark, mixArgs)
    assert(mixStats().contains(""""mix_budget_tokens":200"""), mixStats())
    Main.runPipeline(spark, mixArgs)
    assert(mixStats().contains(""""mix_budget_tokens":200"""),
      s"the adopted mix stage must keep the budget in the run record: ${mixStats()}")
    assert(mixStats().contains(""""resumed":true"""), mixStats())

    // a KEEP-ALL mix leaves only a .done marker; the marker carries
    // the doc count so a resumed run re-records what the original run
    // recorded — a scheduler diffing consecutive stats.json records
    // must not see the count disappear on replay
    val kaArgs = Seq("corpus-pipeline", s"in=$base/docs.parquet",
      s"out=$base/outka", "steps=clean,mix", "resume=true")
    def kaStats(): String =
      Files.readString(java.nio.file.Paths.get(s"$base/outka", "stats.json"))
    Main.runPipeline(spark, kaArgs)
    val mixDocs = """"stage":"mix","docs":(\d+)""".r
    val kaFresh = mixDocs.findFirstMatchIn(kaStats()).map(_.group(1))
    assert(kaFresh.isDefined, s"fresh KEEP-ALL mix records its count: ${kaStats()}")
    Main.runPipeline(spark, kaArgs)
    assert(mixDocs.findFirstMatchIn(kaStats()).map(_.group(1)) == kaFresh,
      s"adopted KEEP-ALL mix must re-record the original count: ${kaStats()}")
    assert(kaStats().contains(""""resumed":true"""), kaStats())

    // incremental batches already have a replay unit (the batch):
    // resume= refuses there rather than meaning something ambiguous
    val eIncr = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$base/docs.parquet", s"out=$base/out2",
        "incremental=true", s"state=$base/state", "batch=1", "resume=true")))
    assert(eIncr.getMessage.contains("full runs only"), eIncr.getMessage)
  }

  test("corpus-pipeline incremental: two batches == one batch on the union; replay-idempotent; budget-less mix keeps all") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_main_incr").toString
    val vocab = Seq("model", "training", "corpus", "token", "gradient",
      "layer", "attention", "embedding", "loss", "batch", "epoch", "weight")
    def body(seed: Long): String = {
      val rnd = new scala.util.Random(seed)
      Seq.fill(5)(rnd.shuffle(vocab)).flatten.mkString(" ")
    }
    // batch A: six distinct docs. batch B: two fresh (6, 7), a
    // cross-batch near-dup of doc 2 (8), an intra-batch near-dup of
    // doc 6 (9), an eval verbatim copy (10), one more fresh (11).
    val batchA = (0L until 6L).map(i => (i, "en", body(i)))
    val batchB = Seq(
      (6L, "en", body(100L)), (7L, "en", body(101L)),
      (8L, "en", body(2L) + " tailzz"),
      (9L, "en", body(100L) + " tailyy"),
      (10L, "en", body(200L)),
      (11L, "en", body(102L)))
    batchA.toDF("doc_id", "lang", "text").write.parquet(s"$base/a.parquet")
    batchB.toDF("doc_id", "lang", "text").write.parquet(s"$base/b.parquet")
    (batchA ++ batchB).toDF("doc_id", "lang", "text").write.parquet(s"$base/all.parquet")
    Seq((900L, body(200L))).toDF("doc_id", "text").write.parquet(s"$base/evals.parquet")
    val expect = Set(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L, 11L)

    def run(in: String, state: String, batch: Long) = Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$in", s"out=$base/out", "incremental=true",
        s"state=$state", s"batch=$batch", s"evals=$base/evals.parquet", "shards=2"))
    def survivors(state: String): Seq[(Long, Int)] =
      spark.read.parquet(s"$state/survivors")
        .select("doc_id", "batch").collect()
        .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq

    val rA = run(s"$base/a.parquet", s"$base/state", 1L)
    assert(rA.rowsIn == 6 && rA.rowsOut == 6, s"batch A all survive: $rA")
    val rB = run(s"$base/b.parquet", s"$base/state", 2L)
    assert(rB.rowsIn == 6 && rB.rowsOut == 3,
      s"batch B keeps 6,7,11 (drops cross-batch dup 8, intra dup 9, eval copy 10): $rB")
    assert(survivors(s"$base/state").map(_._1).toSet == expect)

    // one-shot incremental over the union reproduces the same set
    run(s"$base/all.parquet", s"$base/state1", 1L)
    assert(survivors(s"$base/state1").map(_._1).toSet == expect,
      "two-batch survivors must equal the one-batch union run")

    // replaying batch 2 (at-least-once delivery) changes nothing:
    // same survivor rows, no duplicates under the batch dir
    val before = survivors(s"$base/state")
    run(s"$base/b.parquet", s"$base/state", 2L)
    assert(survivors(s"$base/state") == before, "replay must be idempotent")

    // shards accumulate per batch, cover exactly the survivors, and a
    // doc's shard assignment matches the one-shot run's (pure function
    // of doc_id)
    def shardOf(state: String): Map[Long, Long] =
      spark.read.parquet(s"$state/shards")
        .select(col("doc_id"), col("shard").cast("long")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val incr = shardOf(s"$base/state")
    assert(incr.keySet == expect, s"shards cover the survivors: ${incr.keySet}")
    assert(incr == shardOf(s"$base/state1"),
      "per-batch sharding must equal the one-shot assignment")

    // the shard count is FROZEN by the first sharding batch (sidecar
    // next to the tree): a later batch's conflicting shards= refuses —
    // a silently different count would scatter the same doc_id across
    // assignments and the accumulated tree would match no one-shot run
    val eShards = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$base/b.parquet", s"out=$base/out3",
        "incremental=true", s"state=$base/state", "batch=4",
        s"evals=$base/evals.parquet", "shards=5")))
    assert(eShards.getMessage.contains("frozen shard count"), eShards.getMessage)
    // absent shards= adopts the frozen count (no false refusal, no
    // silent fallback to the 16 default)
    Main.runPipeline(spark, Seq("corpus-pipeline", s"in=$base/b.parquet",
      s"out=$base/out3", "incremental=true", s"state=$base/state", "batch=2",
      s"evals=$base/evals.parquet"))
    assert(shardOf(s"$base/state") == incr,
      "a shards=-less replay under the frozen count must reproduce the assignment")

    // the run record carries the replay key
    val incrStats = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$base/out", "stats.json"))
    assert(incrStats.contains(""""batch":2"""), incrStats)

    // every step has an incremental form since r11 — a budget-less
    // mix in the plan is KEEP-ALL, never a refusal
    val rMix = Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$base/b.parquet", s"out=$base/out2",
        "incremental=true", s"state=$base/state2", "batch=3", "steps=clean,mix"))
    assert(rMix.rowsOut > 0)
    // and the replay key is required
    val e2 = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$base/b.parquet", s"out=$base/out2",
        "incremental=true", s"state=$base/state")))
    assert(e2.getMessage.contains("batch="), e2.getMessage)
  }

  test("corpus-pipeline incremental select: frozen DSIR model fit on the seed batch, deltas scored under it") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_main_fsel").toString
    val onVocab = Seq("model", "training", "corpus", "token", "gradient",
      "layer", "attention", "embedding", "loss", "batch", "epoch", "weight")
    val offVocab = Seq("recipe", "butter", "flour", "oven", "bake",
      "sugar", "dough", "pan", "stir", "cream", "salt", "yeast")
    def content(vocab: Seq[String], seed: Long): String = {
      val rnd = new scala.util.Random(seed)
      Seq.fill(5)(rnd.shuffle(vocab)).flatten.mkString(" ")
    }
    // seed: 10 on-topic + 10 off-topic; targets sample the on-domain
    val seedDocs = (0L until 10L).map(i => (i, "en", content(onVocab, i))) ++
      (20L until 30L).map(i => (i, "en", content(offVocab, i)))
    seedDocs.toDF("doc_id", "lang", "text").write.parquet(s"$base/seed.parquet")
    (100L until 110L).map(i => (i, content(onVocab, 1000L + i)))
      .toDF("doc_id", "text").write.parquet(s"$base/targets.parquet")
    val rA = Main.runPipeline(spark, Seq("corpus-pipeline",
      s"in=$base/seed.parquet", s"out=$base/out", "steps=select",
      "incremental=true", s"state=$base/state", "batch=1",
      s"targets=$base/targets.parquet", "frac=0.5"))
    assert(rA.rowsOut == 10, s"seed keeps the calibrated ~half (the on-topic mode): $rA")
    def survivors(): Set[Long] = spark.read.parquet(s"$base/state/survivors")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors() == (0L until 10L).toSet, s"seed survivors: ${survivors()}")
    // model artifacts frozen under state/select
    val thrPath = java.nio.file.Paths.get(s"$base/state/select", "threshold.txt")
    val thr0 = java.nio.file.Files.readString(thrPath)

    // delta batch: new on/off docs, NO targets= — scored under the
    // frozen model; passing targets again must be ignored (no refit)
    val deltaDocs = (40L until 45L).map(i => (i, "en", content(onVocab, 2000L + i))) ++
      (50L until 55L).map(i => (i, "en", content(offVocab, 2000L + i)))
    deltaDocs.toDF("doc_id", "lang", "text").write.parquet(s"$base/delta.parquet")
    val rB = Main.runPipeline(spark, Seq("corpus-pipeline",
      s"in=$base/delta.parquet", s"out=$base/out", "steps=select",
      "incremental=true", s"state=$base/state", "batch=2",
      s"targets=$base/targets.parquet"))
    assert(rB.rowsOut == 5, s"delta keeps its on-topic half under the frozen model: $rB")
    assert(survivors() == ((0L until 10L) ++ (40L until 45L)).toSet, survivors().toString)
    assert(java.nio.file.Files.readString(thrPath) == thr0,
      "a later batch must never re-fit the frozen model")
    // the decision IS the frozen per-doc score: verify directly
    val lam = StateDir.readQualityWeights(spark, s"$base/state/select/lambda")
    val direct = graft.queries.PipelineQueries.dsirScoreDocs(
        deltaDocs.toDF("doc_id", "lang", "text").select("doc_id", "text"), lam)
      .filter(col("weight_milli") >= thr0.trim.toLong)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(direct == (40L until 45L).toSet,
      s"pipeline decisions must equal direct frozen-model scoring: $direct")
    // replay of the delta batch is idempotent
    Main.runPipeline(spark, Seq("corpus-pipeline",
      s"in=$base/delta.parquet", s"out=$base/out", "steps=select",
      "incremental=true", s"state=$base/state", "batch=2"))
    assert(survivors() == ((0L until 10L) ++ (40L until 45L)).toSet)
    // a conflicting frac= on a fitted batch refuses (the calibration
    // is part of the frozen model — same rule as scrub's w=)
    val eFrac = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$base/delta.parquet", s"out=$base/out",
        "steps=select", "incremental=true", s"state=$base/state",
        "batch=3", "frac=0.9")))
    assert(eFrac.getMessage.contains("frozen calibration"), eFrac.getMessage)
    // the matching value passes (no drift, no false refusal)
    Main.runPipeline(spark, Seq("corpus-pipeline",
      s"in=$base/delta.parquet", s"out=$base/out", "steps=select",
      "incremental=true", s"state=$base/state", "batch=2", "frac=0.5"))
    assert(survivors() == ((0L until 10L) ++ (40L until 45L)).toSet)
  }

  test("corpus-pipeline incremental scrub: frozen hot-span table; deltas scrubbed under it; width conflicts refuse") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_main_fscr").toString
    val footer = "subscribe newsletter daily updates" // 4 words, w=4-aligned
    // 8 unique words then the shared footer: chunks [u1..u4][u5..u8][footer]
    def doc(i: Long, tail: String) =
      (i, "en", (1 to 8).map(j => s"w${i}x$j").mkString(" ") + " " + tail)
    val seed = (0L until 5L).map(doc(_, footer))
    seed.toDF("doc_id", "lang", "text").write.parquet(s"$base/seed.parquet")
    val rA = Main.runPipeline(spark, Seq("corpus-pipeline",
      s"in=$base/seed.parquet", s"out=$base/out", "steps=scrub",
      "incremental=true", s"state=$base/state", "batch=1", "w=4", "mindocs=3"))
    assert(rA.rowsOut == 5)
    def texts(): Map[Long, String] = spark.read.parquet(s"$base/state/survivors")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(texts().values.forall(!_.contains("subscribe")),
      s"seed template must be scrubbed: ${texts()}")
    assert(spark.read.parquet(s"$base/state/scrub/spans").count() == 1L,
      "exactly the footer span is frozen")

    // delta: one doc with the FROZEN template (scrubbed), three docs
    // sharing a NEW template — hot within the delta, but the frozen
    // model doesn't know it: NOT scrubbed until an explicit re-fit
    val newTpl = "brand new template here"
    val delta = Seq(doc(100L, footer)) ++ (101L until 104L).map(doc(_, newTpl))
    delta.toDF("doc_id", "lang", "text").write.parquet(s"$base/delta.parquet")
    Main.runPipeline(spark, Seq("corpus-pipeline",
      s"in=$base/delta.parquet", s"out=$base/out", "steps=scrub",
      "incremental=true", s"state=$base/state", "batch=2"))
    val t = texts()
    assert(!t(100L).contains("subscribe"), s"frozen span must scrub the delta: ${t(100L)}")
    assert((101L until 104L).forall(i => t(i).contains("brand")),
      "a cross-delta-only template waits for a re-fit (frozen-model semantics)")
    // chunk width is part of the frozen model: a conflicting w refuses
    val e = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$base/delta.parquet", s"out=$base/out",
        "steps=scrub", "incremental=true", s"state=$base/state", "batch=3", "w=5")))
    assert(e.getMessage.contains("frozen chunk width"), e.getMessage)
    // so is the fit threshold: a conflicting mindocs refuses too
    val eMd = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$base/delta.parquet", s"out=$base/out",
        "steps=scrub", "incremental=true", s"state=$base/state", "batch=3",
        "mindocs=10")))
    assert(eMd.getMessage.contains("frozen fit threshold"), eMd.getMessage)
    // replay of the delta is idempotent
    Main.runPipeline(spark, Seq("corpus-pipeline",
      s"in=$base/delta.parquet", s"out=$base/out", "steps=scrub",
      "incremental=true", s"state=$base/state", "batch=2"))
    assert(texts() == t)
  }

  test("corpus-pipeline incremental mix: frozen per-language thresholds; deltas filter under them; conflicts refuse; mix-refit re-calibrates") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_fmix").toString
    // letters-only (a digit is its OWN pre-token): 60 pre-tokens/doc
    val words = (1 to 60)
      .map(j => s"tok${('a' + j / 26).toChar}${('a' + j % 26).toChar}").mkString(" ")
    def write(name: String, docs: Seq[(Long, String)]): String = {
      val p = s"$base/$name.parquet"
      docs.map { case (i, l) => (i, l, words) }
        .toDF("doc_id", "lang", "text").write.parquet(p)
      p
    }
    def run(in: String, batch: Long, extra: String*): Unit =
      Main.runPipeline(spark, Seq("corpus-pipeline", s"in=$in",
        s"out=$base/out", "steps=mix", "incremental=true",
        s"state=$base/state", s"batch=$batch", "budget=1000") ++ extra)
    def survivors(): Set[Long] = spark.read.parquet(s"$base/state/survivors")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def stats(): String =
      Files.readString(java.nio.file.Paths.get(s"$base/out", "stats.json"))
    // seed: en oversupplied (20 docs × 60 = 1200 tokens), de fits
    // (4 × 60 = 240) under budget=1000 at alpha=0.5
    val seedDocs = (0L until 20L).map((_, "en")) ++ (100L until 104L).map((_, "de"))
    run(write("seedm", seedDocs), 1L)
    // the seed-calibrated expectation, recomputed independently: the
    // frozen thresholds applied per-doc via the residue filter
    val kp = graft.queries.PipelineQueries
      .mixKeepPoints(Seq("en" -> 1200L, "de" -> 240L), 1000L, 0.5).toMap
    def residue(id: Long): Long = ((id % 1048576L) * 2654435761L) % 1048576L
    def expectKept(docs: Seq[(Long, String)]): Set[Long] =
      docs.filter { case (i, l) => residue(i) < kp.getOrElse(l, 1048576L) }.map(_._1).toSet
    assert(kp("de") == 1048576L, s"under-supplied language keeps whole: $kp")
    assert(kp("en") < 1048576L, s"over-supplied language downsamples: $kp")
    assert(survivors() == expectKept(seedDocs),
      s"seed survivors == frozen-threshold expectation")
    // delta mixes under the FROZEN thresholds — its own supply does
    // not recalibrate, so accumulated survivors == per-doc filter of
    // the union (what no naive per-batch mix can produce)
    val deltaDocs = (200L until 220L).map((_, "en"))
    run(write("deltam", deltaDocs), 2L)
    assert(survivors() == expectKept(seedDocs ++ deltaDocs),
      "two-batch survivors == seed-calibrated per-doc expectation over the union")
    // replay idempotent (same survivors, supply evidence overwritten)
    run(write("deltam2", deltaDocs), 2L)
    assert(survivors() == expectKept(seedDocs ++ deltaDocs), "replay idempotent")
    assert(spark.read.parquet(s"$base/state/mix/supply")
      .filter(col("batch") === 2).count() == 1L,
      "replayed batch overwrites its own supply evidence, never doubles it")
    // an all-de delta keeps everything (rate 1.0) vs seed rate ≈0.6 —
    // the drift signal trips
    run(write("deltad", (300L until 310L).map((_, "de"))), 3L)
    assert(stats().contains(""""drift_warnings":["mix_keep rate drift"""), stats())
    // an unseen language has no frozen threshold: kept WHOLE, never
    // silently destroyed
    val frDocs = (400L until 410L).map((_, "fr"))
    run(write("deltafr", frDocs), 4L)
    assert(frDocs.map(_._1).toSet.subsetOf(survivors()),
      "unseen language must be kept whole")
    // fit knobs are frozen: conflicting budget= / alpha= / tokens=
    // refuse (a later duplicate k=v wins in the opts map, so the
    // extra budget= overrides run()'s fixed one)
    val eBudget = intercept[IllegalArgumentException](run(s"$base/deltam.parquet", 5L,
      "budget=2000"))
    assert(eBudget.getMessage.contains("frozen calibration"), eBudget.getMessage)
    val eAlpha = intercept[IllegalArgumentException](run(s"$base/deltam.parquet", 5L,
      "alpha=0.9"))
    assert(eAlpha.getMessage.contains("frozen calibration"), eAlpha.getMessage)
    val eTok = intercept[IllegalArgumentException](run(s"$base/deltam.parquet", 5L,
      "tokens=bpe"))
    assert(eTok.getMessage.contains("frozen denomination"), eTok.getMessage)
    // a refused batch must leave NO supply evidence — the eTok batch
    // counted in the WRONG denomination, and a later mix-refit sums
    // every batch dir (r11 review: evidence was persisted before the
    // knob validation)
    assert(!Files.exists(java.nio.file.Paths.get(s"$base/state/mix/supply/batch=5")),
      "a refused batch must not contribute supply evidence")
    // a fitted pipeline refuses a budget-LESS mix: omitting the knob
    // must not silently bypass the frozen calibration (r11 review)
    val eNoB = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$base/deltam.parquet", s"out=$base/out",
        "steps=mix", "incremental=true", s"state=$base/state", "batch=5")))
    assert(eNoB.getMessage.contains("UNMIXED"), eNoB.getMessage)
    // mix-refit: thresholds rebuilt from the ACCUMULATED supply under
    // a new budget; the denomination cannot change; staging dir gone
    val rFit = Main.runPipeline(spark,
      Seq("mix-refit", s"state=$base/state", "budget=500"))
    assert(rFit.rowsIn == 2L && rFit.rowsOut == 3L,
      s"refit covers every language the batches supplied: $rFit")
    assert(!Files.exists(java.nio.file.Paths.get(
      s"$base/state/mix/thresholds.refit.tmp")), "staging dir renamed away")
    assert(new java.io.File(s"$base/state/mix").list().forall(!_.startsWith(".swap-")),
      "swap's writing, staged and parked dirs renamed away")
    val eFitTok = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("mix-refit", s"state=$base/state", "tokens=bpe")))
    assert(eFitTok.getMessage.contains("frozen denomination"), eFitTok.getMessage)
    // future batches mix under the re-fit model (budget now frozen at
    // 500; the old 1000 refuses) and the drift baseline re-establishes
    val eOld = intercept[IllegalArgumentException](run(s"$base/deltam.parquet", 6L))
    assert(eOld.getMessage.contains("frozen calibration"), eOld.getMessage)
    Main.runPipeline(spark, Seq("corpus-pipeline", s"in=$base/deltam.parquet",
      s"out=$base/out", "steps=mix", "incremental=true", s"state=$base/state",
      "batch=6", "budget=500"))
    assert(!stats().contains("drift_warnings"),
      s"first post-refit batch re-establishes the baseline, no cry-wolf: ${stats()}")
    // an interrupted refit (crash between the swap renames: old
    // generation parked at .old.tmp, no live thresholds) REFUSES
    // further batches — never a silent re-seed — and a re-run
    // mix-refit recovers from the aside dir and completes the swap
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$base/state/mix/thresholds"),
      java.nio.file.Paths.get(s"$base/state/mix/thresholds.old.tmp"))
    val eInt = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$base/deltam.parquet", s"out=$base/out",
        "steps=mix", "incremental=true", s"state=$base/state", "batch=7",
        "budget=500")))
    assert(eInt.getMessage.contains("interrupted mix-refit"), eInt.getMessage)
    val rRec = Main.runPipeline(spark, Seq("mix-refit", s"state=$base/state"))
    assert(rRec.rowsOut == 3L, s"recovered refit re-fits every language: $rRec")
    assert(Files.exists(java.nio.file.Paths.get(
      s"$base/state/mix/thresholds/_knobs.txt")), "swap completed")
    assert(!Files.exists(java.nio.file.Paths.get(
      s"$base/state/mix/thresholds.old.tmp")), "aside dir reclaimed")
    Main.runPipeline(spark, Seq("corpus-pipeline", s"in=$base/deltam.parquet",
      s"out=$base/out", "steps=mix", "incremental=true", s"state=$base/state",
      "batch=7", "budget=500"))
  }

  test("corpus-pipeline incremental mix: a partially-labeled batch keeps null-lang docs whole; no null supply evidence") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_fmixnull").toString
    val words = (1 to 60)
      .map(j => s"tok${('a' + j / 26).toChar}${('a' + j % 26).toChar}").mkString(" ")
    // seed mixes labeled and UNLABELED docs in one batch — the shape
    // that NPE'd the supply sort before r12 (String ordering on a
    // null lang); en oversupplies the budget so downsampling is real
    val seedDocs = (0L until 20L).map(i => (i, "en", words)) ++
      (100L until 105L).map(i => (i, null: String, words))
    seedDocs.toDF("doc_id", "lang", "text").write.parquet(s"$base/seed.parquet")
    Main.runPipeline(spark, Seq("corpus-pipeline", s"in=$base/seed.parquet",
      s"out=$base/out", "steps=mix", "incremental=true",
      s"state=$base/state", "batch=1", "budget=600"))
    val surv = spark.read.parquet(s"$base/state/survivors")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert((100L until 105L).forall(surv.contains),
      s"null-lang docs must be kept whole: $surv")
    assert(surv.count(_ < 20L) < 20, "the labeled language still downsamples")
    // the frozen model and the supply evidence cover labeled langs only
    assert(spark.read.parquet(s"$base/state/mix/thresholds")
      .filter(col("lang").isNull).count() == 0L)
    assert(spark.read.parquet(s"$base/state/mix/supply")
      .filter(col("lang").isNull).count() == 0L,
      "null lang must not reach the refit evidence")
    // and mix-refit over that evidence works (no NPE in the sort)
    val rFit = Main.runPipeline(spark, Seq("mix-refit", s"state=$base/state"))
    assert(rFit.rowsOut == 1L, s"one labeled language re-fit: $rFit")
    // an ALL-null delta mixes under the frozen model: everything kept
    val allNull = (200L until 205L).map(i => (i, null: String, words))
    allNull.toDF("doc_id", "lang", "text").write.parquet(s"$base/delta.parquet")
    Main.runPipeline(spark, Seq("corpus-pipeline", s"in=$base/delta.parquet",
      s"out=$base/out", "steps=mix", "incremental=true",
      s"state=$base/state", "batch=2", "budget=600"))
    val surv2 = spark.read.parquet(s"$base/state/survivors")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert((200L until 205L).forall(surv2.contains),
      s"an all-null delta is kept whole: $surv2")
  }

  test("state-dir lease: a second writer refuses naming the holder; stale leases break; every exit releases") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_lease").toString
    val words = (1 to 60)
      .map(j => s"tok${('a' + j / 26).toChar}${('a' + j % 26).toChar}").mkString(" ")
    (0L until 10L).map(i => (i, "en", words))
      .toDF("doc_id", "lang", "text").write.parquet(s"$base/in.parquet")
    def runBatch(batch: Long, extra: String*) = Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$base/in.parquet", s"out=$base/out",
        "steps=mix", "incremental=true", s"state=$base/state",
        s"batch=$batch", "budget=600") ++ extra)
    val leasePath = java.nio.file.Paths.get(s"$base/state/.lease.txt")

    // a completed run leaves no lease behind
    runBatch(1L)
    assert(!Files.exists(leasePath), "a completed batch must release its lease")
    // a held lease (another writer mid-run) refuses LOUDLY, naming the
    // holder — the deterministic race: whoever creates the file first
    // wins, the atomic create-exclusive primitive decides
    Files.writeString(leasePath, "holder=corpus-pipeline pid=99999 acquired_ms=0\n")
    val e = intercept[IllegalArgumentException](runBatch(2L))
    assert(e.getMessage.contains("LEASED") && e.getMessage.contains("pid=99999"),
      e.getMessage)
    assert(Files.exists(leasePath), "a refused writer must not steal the lease")
    // mix-refit takes the same lease
    val eFit = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("mix-refit", s"state=$base/state")))
    assert(eFit.getMessage.contains("LEASED"), eFit.getMessage)
    // a stale lease (older than leasettl) is broken and the run
    // proceeds — the crashed-holder recovery path
    runBatch(2L, "leasettl=1")
    assert(!Files.exists(leasePath), "the breaking run must release too")
    // a refusal INSIDE the stage loop (frozen-knob conflict) releases
    // the lease on the way out — a refused batch must not wedge cron
    val eKnob = intercept[IllegalArgumentException](runBatch(3L, "budget=999"))
    assert(eKnob.getMessage.contains("frozen calibration"), eKnob.getMessage)
    assert(!Files.exists(leasePath), "a refused batch must release the lease")
    // and the refit path releases after completing
    Main.runPipeline(spark, Seq("mix-refit", s"state=$base/state", "budget=700"))
    assert(!Files.exists(leasePath))
    // ownership at release: an overstaying holder whose stale lease a
    // successor broke and replaced must NOT delete the successor's
    // lease in its finally — release verifies the nonce and restores
    val mine = StateDir.acquireStateLease(spark, s"$base/state", "test-holder", 1000L)
    java.nio.file.Files.writeString(leasePath,
      "holder=successor pid=1 acquired_ms=0 nonce=theirs\n")
    StateDir.releaseStateLease(spark, mine)
    assert(Files.exists(leasePath) &&
      Files.readString(leasePath).contains("nonce=theirs"),
      "release must leave (restore) a successor's lease untouched")
    java.nio.file.Files.delete(leasePath)
    // and releasing one's own lease removes it
    val own = StateDir.acquireStateLease(spark, s"$base/state", "test-holder", 1000L)
    StateDir.releaseStateLease(spark, own)
    assert(!Files.exists(leasePath))
  }

  test("lease heartbeat: an active holder that heartbeats past the TTL is not broken; a crashed one still is") {
    val base = Files.createTempDirectory("graft_main_hb").toString
    val leasePath = java.nio.file.Paths.get(s"$base/state/.lease.txt")
    def ageLease(ms: Long): Unit = java.nio.file.Files.setLastModifiedTime(leasePath,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ms))
    val holder = StateDir.acquireStateLease(spark, s"$base/state", "hb-holder", 60000L)
    // the holder runs long: its lease ages past any reasonable TTL,
    // but a stage-boundary heartbeat refreshes the mtime — a second
    // writer with ttl=30s must REFUSE (the holder is demonstrably
    // alive), where the r12 design broke it mid-run
    ageLease(3600L * 1000)
    StateDir.heartbeatStateLease(spark, holder)
    val e = intercept[IllegalArgumentException](
      StateDir.acquireStateLease(spark, s"$base/state", "second", 30000L))
    assert(e.getMessage.contains("LEASED"), e.getMessage)
    // a holder that STOPS heartbeating (crashed/hung) is still broken
    // after a full TTL of silence — the break path heartbeats protect
    // active holders, not dead ones
    ageLease(3600L * 1000)
    val second = StateDir.acquireStateLease(spark, s"$base/state", "second", 30000L)
    assert(Files.readString(leasePath).contains(s"nonce=${second._2}"),
      "the silent holder's lease must be broken and replaced")
    // the broken original heartbeats into the successor's lease: it
    // must NOT touch their file (ownership nonce), only warn
    val mtime = java.nio.file.Files.getLastModifiedTime(leasePath)
    StateDir.heartbeatStateLease(spark, holder)
    assert(Files.readString(leasePath).contains(s"nonce=${second._2}") &&
      java.nio.file.Files.getLastModifiedTime(leasePath) == mtime,
      "a broken holder's heartbeat must leave the successor's lease untouched")
    StateDir.releaseStateLease(spark, second)
    assert(!Files.exists(leasePath))
  }

  test("intra-stage heartbeat timer: a holder inside ONE long stage with ttl < stage wall is not broken; a closed timer ages out") {
    val base = Files.createTempDirectory("graft_main_hbt").toString
    val leasePath = java.nio.file.Paths.get(s"$base/state/.lease.txt")
    // ttl 2 s, stage wall 5 s, NO stage-boundary touches — the r13
    // design's breakable window (heartbeats fired only between
    // stages; the sf1000 clean stage alone ran 1315 s); the timer
    // (period ttl/4, floored to 1 s) must keep the holder alive
    val holder = StateDir.acquireStateLease(spark, s"$base/state", "hbt-holder", 2000L)
    val timer = StateDir.startLeaseHeartbeat(spark, holder, 2000L)
    try {
      Thread.sleep(5000L)
      val e = intercept[IllegalArgumentException](
        StateDir.acquireStateLease(spark, s"$base/state", "second", 2000L))
      assert(e.getMessage.contains("LEASED"),
        s"a timer-heartbeating holder mid-stage must not be broken: ${e.getMessage}")
    } finally timer.close()
    // with the timer closed (crashed process), a full TTL of silence
    // still breaks the lease — the timer protects active holders only
    java.nio.file.Files.setLastModifiedTime(leasePath,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 10000L))
    val second = StateDir.acquireStateLease(spark, s"$base/state", "second", 2000L)
    assert(Files.readString(leasePath).contains(s"nonce=${second._2}"))
    StateDir.releaseStateLease(spark, second)
    // ttl=0 (never auto-break) needs no timer: the no-op handle closes
    StateDir.startLeaseHeartbeat(spark, second, 0L).close()
  }

  test("full-run output lease: a second full run into the same out= refuses naming the holder; completed runs leave none") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_outlease").toString
    val words = (1 to 60)
      .map(j => s"tok${('a' + j / 26).toChar}${('a' + j % 26).toChar}").mkString(" ")
    (0L until 10L).map(i => (i, "en", words))
      .toDF("doc_id", "lang", "text").write.parquet(s"$base/in.parquet")
    def runFull() = Main.runPipeline(spark, Seq("corpus-pipeline",
      s"in=$base/in.parquet", s"out=$base/out", "steps=scrub,select"))
    val leasePath = java.nio.file.Paths.get(s"$base/out/.lease.txt")
    // the deterministic race: a concurrent full run holds the out=
    // lease — the second writer refuses loudly instead of silently
    // interleaving stage outputs (the r12 seam: Main gated the lease
    // on incremental=, so two full runs into one out= interleaved)
    java.nio.file.Files.createDirectories(leasePath.getParent)
    Files.writeString(leasePath,
      "holder=corpus-pipeline pid=4242 acquired_ms=0 nonce=other\n")
    val e = intercept[IllegalArgumentException](runFull())
    assert(e.getMessage.contains("LEASED") && e.getMessage.contains("pid=4242"),
      e.getMessage)
    assert(Files.exists(leasePath), "a refused full run must not steal the lease")
    // a crashed run's lease also blocks resume=true (the lease cannot
    // tell a crash from a live long stage) — the refusal must then
    // spell out the recovery remedy instead of leaving a puzzle
    val eResume = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$base/in.parquet", s"out=$base/out",
        "steps=scrub,select", "resume=true")))
    assert(eResume.getMessage.contains("LEASED") &&
      eResume.getMessage.contains("resume=true") &&
      eResume.getMessage.contains("leasettl=1"), eResume.getMessage)
    java.nio.file.Files.delete(leasePath)
    // a completed full run releases on the way out
    runFull()
    assert(!Files.exists(leasePath), "a completed full run must release its out= lease")
  }

  test("clean pre-flight scratch check: predicted scratch above free space refuses naming the remedy; warn mode and roomy disks proceed") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_scratch").toString
    val text = (1 to 80).map(j => s"w${j % 13}x$j").mkString(" ")
    (0L until 20L).map(i => (i, "en", text))
      .toDF("doc_id", "lang", "text").write.parquet(s"$base/in.parquet")
    def runClean(extra: String*) = Main.runPipeline(spark, Seq("corpus-clean",
      s"in=$base/in.parquet", s"index=$base/sig", s"out=$base/clean",
      "batch=1") ++ extra)
    // injected free-space probe: 10 bytes free vs KBs of predicted
    // scratch — the batch would die on ENOSPC mid-shuffle; it must
    // refuse UP FRONT, naming the batch-size remedy and the knob
    StateDir.scratchFreeBytesOverride = Some(10L)
    try {
      val e = intercept[IllegalArgumentException](runClean())
      assert(e.getMessage.contains("ENOSPC") && e.getMessage.contains("batches") &&
        e.getMessage.contains("scratchcheck"), e.getMessage)
      // the DAG's clean stage (one-shot form) runs the same pre-flight
      val eDag = intercept[IllegalArgumentException](Main.runPipeline(spark,
        Seq("corpus-pipeline", s"in=$base/in.parquet", s"out=$base/out",
          "steps=clean")))
      assert(eDag.getMessage.contains("ENOSPC"), eDag.getMessage)
      // scratchcheck=warn downgrades to a loud warning and proceeds
      val r = runClean("scratchcheck=warn")
      assert(r.rowsOut > 0, s"warn mode must still run the batch: $r")
    } finally StateDir.scratchFreeBytesOverride = None
    // a roomy filesystem (the real probe) passes the default refuse mode
    val r2 = Main.runPipeline(spark, Seq("corpus-clean",
      s"in=$base/in.parquet", s"index=$base/sig2", s"out=$base/clean2", "batch=1"))
    assert(r2.rowsOut > 0)
    // an unknown mode refuses up front
    val eBad = intercept[IllegalArgumentException](runClean("scratchcheck=maybe"))
    assert(eBad.getMessage.contains("scratchcheck=maybe"), eBad.getMessage)
  }

  test("corpus-pipeline: side-effect stages (pack, shard) refuse to run before a frame-mutating stage") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_order").toString
    Seq((1L, "en", "alpha beta gamma")).toDF("doc_id", "lang", "text")
      .write.parquet(s"$base/in.parquet")
    for (bad <- Seq("pack,mix", "shard,select", "pack,clean")) {
      val e = intercept[IllegalArgumentException](Main.runPipeline(spark,
        Seq("corpus-pipeline", s"in=$base/in.parquet", s"out=$base/out",
          s"steps=$bad", "budget=100")))
      assert(e.getMessage.contains("BEFORE"), s"$bad: ${e.getMessage}")
    }
  }

  test("corpus-pipeline incremental pack: frozen BPE model + layout; per-batch packs == standalone packs; replay overwrites; conflicts refuse") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_fpack").toString
    val vocab = Seq("model", "training", "corpus", "token", "gradient",
      "layer", "attention", "embedding", "loss", "batch", "epoch", "weight")
    def body(seed: Long): String = {
      val rnd = new scala.util.Random(seed)
      Seq.fill(3)(rnd.shuffle(vocab)).flatten.mkString(" ")
    }
    def write(name: String, ids: Seq[Long]): String = {
      val p = s"$base/$name.parquet"
      ids.map(i => (i, "en", body(i))).toDF("doc_id", "lang", "text").write.parquet(p)
      p
    }
    def run(in: String, batch: Long, extra: String*): Unit =
      Main.runPipeline(spark, Seq("corpus-pipeline", s"in=$in",
        s"out=$base/out", "steps=pack", "incremental=true",
        s"state=$base/state", s"batch=$batch", "packbudget=64", "buckets=2",
        "nmerges=50") ++ extra)
    def packsOf(dir: String): Set[(Long, Seq[Long], Seq[Int])] =
      spark.read.parquet(dir).select("pack_id", "doc_ids", "token_ids")
        .collect().map(r => (r.getLong(0),
          r.getSeq[Long](1).toSeq, r.getSeq[Int](2).toSeq)).toSet
    val seedIds = 0L until 8L
    run(write("seedp", seedIds), 1L)
    // the frozen model committed: vocab/_SUCCESS is the marker
    assert(Files.exists(java.nio.file.Paths.get(s"$base/state/pack/vocab/_SUCCESS")))
    val frozenMerges = graft.functions.Bpe.readMerges(spark, s"$base/state/pack/merges")
    val frozenVocab = graft.functions.Bpe.readVocab(spark, s"$base/state/pack/vocab")
    assert(frozenMerges.nonEmpty)
    // byte-identity: the batch dir equals packing the batch standalone
    // under the frozen model + frozen layout
    def standalone(ids: Seq[Long]): Set[(Long, Seq[Long], Seq[Int])] =
      graft.queries.PipelineQueries.packTokens(
        ids.map(i => (i, body(i))).toDF("doc_id", "text"),
        frozenMerges, frozenVocab, 64, 2)
        .select("pack_id", "doc_ids", "token_ids")
        .collect().map(r => (r.getLong(0),
          r.getSeq[Long](1).toSeq, r.getSeq[Int](2).toSeq)).toSet
    assert(packsOf(s"$base/state/packs/batch=1") == standalone(seedIds),
      "seed packs == standalone packs under the frozen model")
    // delta packs under the FROZEN model (no retrain: the merges table
    // is byte-stable across batches)
    val deltaIds = 100L until 106L
    run(write("deltap", deltaIds), 2L)
    assert(graft.functions.Bpe.readMerges(spark, s"$base/state/pack/merges")
      .sameElements(frozenMerges), "the frozen model must not retrain on a delta")
    val d2 = packsOf(s"$base/state/packs/batch=2")
    assert(d2 == standalone(deltaIds),
      "delta packs == standalone packs under the frozen model")
    // replay overwrites its own batch dir — nothing duplicates
    run(write("deltap2", deltaIds), 2L)
    assert(packsOf(s"$base/state/packs/batch=2") == d2, "replay idempotent")
    assert(spark.read.parquet(s"$base/state/packs")
      .filter(col("batch") === 2).count() == d2.size.toLong,
      "the partitioned read sees each batch exactly once")
    // frozen knobs refuse on conflict (a later duplicate k=v wins)
    val eBud = intercept[IllegalArgumentException](run(s"$base/deltap.parquet", 3L,
      "packbudget=128"))
    assert(eBud.getMessage.contains("frozen budget"), eBud.getMessage)
    val eBk = intercept[IllegalArgumentException](run(s"$base/deltap.parquet", 3L,
      "buckets=4"))
    assert(eBk.getMessage.contains("frozen bucket count"), eBk.getMessage)
    val eNm = intercept[IllegalArgumentException](run(s"$base/deltap.parquet", 3L,
      "nmerges=10"))
    assert(eNm.getMessage.contains("frozen model"), eNm.getMessage)
    // a merges= that is NOT the frozen table refuses (one model per
    // pipeline — incompatible token ids are the failure it prevents)
    graft.functions.Bpe.mergesTable(spark,
      graft.functions.Bpe.train(Seq((1L, "zz zz zz zz")).toDF("doc_id", "text"), 5))
      .write.parquet(s"$base/othermerges")
    val eM = intercept[IllegalArgumentException](run(s"$base/deltap.parquet", 3L,
      s"merges=$base/othermerges"))
    assert(eM.getMessage.contains("frozen BPE model"), eM.getMessage)
    // a delta with characters the seed never saw encodes -1 (UNK)
    // under the frozen vocab — LOUD warning, packs still written
    // (the new-language analog of mix's unseen-language policy)
    val errBuf = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    val cyr = s"$base/deltacyr.parquet"
    Seq((300L, "en", "документ на кириллице совершенно новый алфавит"))
      .toDF("doc_id", "lang", "text").write.parquet(cyr)
    try {
      System.setErr(new java.io.PrintStream(errBuf, true))
      run(cyr, 4L)
    } finally System.setErr(realErr)
    assert(errBuf.toString.contains("WARNING pack"),
      s"novel characters must warn loudly: ${errBuf.toString.takeRight(400)}")
    assert(spark.read.parquet(s"$base/state/packs/batch=4")
      .selectExpr("max(array_contains(token_ids, -1))").head().getBoolean(0),
      "the warned batch really does carry -1 ids (the warning is not a false alarm)")
    // a model seeded from merges= (external) has no nmerges to
    // conflict with — the knob does not apply and says so
    Main.runPipeline(spark, Seq("corpus-pipeline", s"in=$base/seedp.parquet",
      s"out=$base/out3", "steps=pack", "incremental=true", s"state=$base/state3",
      "batch=1", "packbudget=64", "buckets=2", s"merges=$base/othermerges"))
    val eExt = intercept[RuntimeException](Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$base/deltap.parquet", s"out=$base/out3",
        "steps=pack", "incremental=true", s"state=$base/state3", "batch=2",
        "packbudget=64", "buckets=2", "nmerges=5")))
    assert(eExt.getMessage.contains("does not apply"), eExt.getMessage)
  }

  test("corpus-pipeline journal retention: journalkeep=N prunes old batch records; misdirected knobs refuse") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_jret").toString
    def write(name: String, ids: Seq[Long]): String = {
      val p = s"$base/$name.parquet"
      ids.map(i => (i, "en", s"alpha beta gamma delta body $i"))
        .toDF("doc_id", "lang", "text").write.mode("overwrite").parquet(p)
      p
    }
    def run(batch: Long): Unit =
      Main.runPipeline(spark, Seq("corpus-pipeline",
        s"in=${write(s"b$batch", batch * 10 until batch * 10 + 3)}",
        s"out=$base/out", "steps=clean", "incremental=true",
        s"state=$base/state", s"batch=$batch", "journalkeep=2"))
    (1L to 4L).foreach(run)
    val files = new java.io.File(s"$base/out/runs").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).sorted.toSeq
    assert(files == Seq("batch=3.json", "batch=4.json"),
      s"only the 2 newest batch records survive: $files")
    // a replayed OLD batch re-records itself but cannot evict newer ones
    run(2L)
    val files2 = new java.io.File(s"$base/out/runs").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).sorted.toSeq
    assert(files2 == Seq("batch=3.json", "batch=4.json"),
      s"retention is by batch id, not recency of write: $files2")
    // misdirected knobs refuse up front
    val eNeg = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$base/b1.parquet", s"out=$base/out",
        "steps=clean", "incremental=true", s"state=$base/state", "batch=9",
        "journalkeep=-1")))
    assert(eNeg.getMessage.contains("journalkeep"), eNeg.getMessage)
    val eFull = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$base/b1.parquet", s"out=$base/outf",
        "steps=clean", "journalkeep=2")))
    assert(eFull.getMessage.contains("incremental"), eFull.getMessage)
  }

  test("corpus-pipeline run record goes through the Hadoop file system: a file:// out= is reported and pruned") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_jfs").toString
    def write(name: String, ids: Seq[Long]): String = {
      val p = s"$base/$name.parquet"
      ids.map(i => (i, "en", s"alpha beta gamma delta body $i"))
        .toDF("doc_id", "lang", "text").write.mode("overwrite").parquet(p)
      p
    }
    // a Hadoop URI: java.nio would read it as a relative "file:" directory
    val out = s"file://$base/out"
    def run(batch: Long): Unit =
      Main.runPipeline(spark, Seq("corpus-pipeline",
        s"in=${write(s"b$batch", batch * 10 until batch * 10 + 3)}",
        s"out=$out", "steps=clean", "incremental=true",
        s"state=$base/state", s"batch=$batch", "journalkeep=1"))
    run(1L)
    assert(new java.io.File(s"$base/out/stats.json").isFile, "stats.json under out=")
    assert(Main.runPipeline(spark, Seq("runs-report", s"out=$out")).rowsIn == 1L)
    run(2L)
    val records = new java.io.File(s"$base/out/runs").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).sorted.toSeq
    assert(records == Seq("batch=2.json"), s"journalkeep=1 prunes through the URI: $records")
    assert(Main.runPipeline(spark, Seq("runs-report", s"out=$out")).rowsIn == 1L)
  }

  test("corpus-pipeline incremental select: a delta whose keep rate drifts from the seed calibration warns; healthy deltas stay quiet") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_drift").toString
    val onVocab = Seq("model", "training", "corpus", "token", "gradient",
      "layer", "attention", "embedding", "loss", "batch", "epoch", "weight")
    val offVocab = Seq("recipe", "butter", "flour", "oven", "bake",
      "sugar", "dough", "pan", "stir", "cream", "salt", "yeast")
    def content(vocab: Seq[String], seed: Long): String = {
      val rnd = new scala.util.Random(seed)
      Seq.fill(5)(rnd.shuffle(vocab)).flatten.mkString(" ")
    }
    def write(name: String, docs: Seq[(Long, String, String)]): String = {
      val p = s"$base/$name.parquet"
      docs.toDF("doc_id", "lang", "text").write.parquet(p)
      p
    }
    val seedP = write("seed", (0L until 10L).map(i => (i, "en", content(onVocab, i))) ++
      (20L until 30L).map(i => (i, "en", content(offVocab, i))))
    (100L until 110L).map(i => (i, content(onVocab, 1000L + i)))
      .toDF("doc_id", "text").write.parquet(s"$base/targets.parquet")
    def run(in: String, batch: Long, extra: Seq[String] = Nil) =
      Main.runPipeline(spark, Seq("corpus-pipeline", s"in=$in",
        s"out=$base/out", "steps=select", "incremental=true",
        s"state=$base/state", s"batch=$batch") ++ extra)
    def stats(): String =
      Files.readString(java.nio.file.Paths.get(s"$base/out", "stats.json"))

    // seed: 50/50 on/off at frac=0.5 calibrates keep rate 0.5 — the
    // baseline lands in the run record AND the frozen state
    run(seedP, 1L, Seq(s"targets=$base/targets.parquet", "frac=0.5"))
    assert(stats().contains(""""rates":{"select_keep":0.5}"""), stats())
    assert(!stats().contains("drift_warnings"), stats())
    assert(Files.exists(
      java.nio.file.Paths.get(s"$base/state/select", "seedkeepmicro.txt")))

    // a healthy delta (same on/off mix → same realized rate) is quiet:
    // the band must not cry wolf on ordinary supply
    val okP = write("ok", (40L until 45L).map(i => (i, "en", content(onVocab, 2000L + i))) ++
      (50L until 55L).map(i => (i, "en", content(offVocab, 2000L + i))))
    run(okP, 2L)
    assert(stats().contains(""""select_keep":0.5"""), stats())
    assert(!stats().contains("drift_warnings"), stats())

    // an off-domain delta collapses the keep rate — previously
    // indistinguishable from healthy; now it's a loud advisory in the
    // run record, and ONLY an advisory: the frozen model still decides
    val badP = write("bad", (60L until 70L).map(i => (i, "en", content(offVocab, 3000L + i))))
    val rBad = run(badP, 3L)
    assert(rBad.rowsOut == 0, s"the frozen model still drops off-domain docs: $rBad")
    assert(stats().contains(""""select_keep":0.0"""), stats())
    assert(stats().contains(""""drift_warnings":["select_keep rate drift"""), stats())
    assert(stats().contains("seed calibration 0.5"), stats())

    // an EMPTY delta (all docs deduped upstream — a normal CDC event)
    // has no keep rate: it must neither record one nor cry drift
    val emptyP = write("empty", Seq.empty[(Long, String, String)])
    val rEmpty = run(emptyP, 4L)
    assert(rEmpty.rowsIn == 0 && rEmpty.rowsOut == 0, s"$rEmpty")
    assert(!stats().contains("drift_warnings"),
      s"an empty delta must not trip the drift band: ${stats()}")
    assert(!stats().contains("select_keep"),
      s"an empty delta has no rate to record: ${stats()}")
  }

  test("corpus-pipeline incremental scrub: cross-batch span accumulation reports emergent templates; hit-rate drift warns") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_emrg").toString
    val footer = "subscribe newsletter daily updates" // 4 words, w=4-aligned
    val tplY = "brand new template words"             // 4 words, never seed-hot
    def doc(i: Long, tail: String) =
      (i, "en", (1 to 8).map(j => s"w${i}x$j").mkString(" ") + " " + tail)
    def write(name: String, docs: Seq[(Long, String, String)]): String = {
      val p = s"$base/$name.parquet"
      docs.toDF("doc_id", "lang", "text").write.parquet(p)
      p
    }
    def run(in: String, batch: Long, extra: Seq[String] = Nil) =
      Main.runPipeline(spark, Seq("corpus-pipeline", s"in=$in",
        s"out=$base/out", "steps=scrub", "incremental=true",
        s"state=$base/state", s"batch=$batch") ++ extra)
    def stats(): String =
      Files.readString(java.nio.file.Paths.get(s"$base/out", "stats.json"))
    def texts(): Map[Long, String] = spark.read.parquet(s"$base/state/survivors")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    // seed: footer in 5 docs (hot at mindocs=3, frozen), template Y in
    // only 2 (df=2 < 3 — NOT in the frozen table)
    val seedP = write("seed",
      (0L until 5L).map(doc(_, footer)) ++ (5L until 7L).map(doc(_, tplY)))
    run(seedP, 1L, Seq("w=4", "mindocs=3"))
    assert(stats().contains(""""scrub_emergent_spans":0"""),
      s"the seed's own spans can never be emergent: ${stats()}")
    assert(texts()(5L).contains("brand"), "a 2-doc seed template stays un-scrubbed")

    // delta: 2 MORE template-Y docs (accumulated df = 4 crosses
    // mindocs ACROSS batches) + 1 footer doc. The frozen model still
    // keeps Y (advisory, never silent mutation) — but the run record
    // now carries the evidence: 1 emergent span, persisted for audit,
    // plus the hit-rate drift (1/3 vs the seed's 5/7)
    val deltaP = write("delta",
      (100L until 102L).map(doc(_, tplY)) :+ doc(102L, footer))
    run(deltaP, 2L)
    val t = texts()
    assert((100L until 102L).forall(i => t(i).contains("brand")),
      "frozen-model discipline: the emergent template is NOT scrubbed until a re-seed")
    assert(!t(102L).contains("subscribe"), "the frozen footer span still scrubs")
    assert(stats().contains(""""scrub_emergent_spans":1"""), stats())
    assert(stats().contains(""""drift_warnings":["scrub_hit rate drift"""), stats())
    assert(spark.read.parquet(s"$base/state/scrub/emergent").count() == 1L,
      "the emergent evidence is persisted for audit/re-fit")

    // replay of the delta must not double-count its frequencies (the
    // batch dir overwrites itself): still exactly 1 emergent span
    run(deltaP, 2L)
    assert(stats().contains(""""scrub_emergent_spans":1"""), stats())
    assert(texts() == t, "replay idempotent")

    // the evidence is cumulative state, not a per-batch flash: a later
    // batch with NO template-Y docs still reports the crossed span
    val thirdP = write("third", Seq(doc(200L, footer)))
    run(thirdP, 3L)
    assert(stats().contains(""""scrub_emergent_spans":1"""),
      s"accumulated evidence must persist across batches: ${stats()}")

    // the report's suggested action, made cheap: scrub-refit rebuilds
    // the frozen table FROM the accumulated evidence — one groupBy
    // over the freq tables, the corpus text is never re-read
    val rFit = Main.runPipeline(spark, Seq("scrub-refit", s"state=$base/state"))
    assert(rFit.rowsIn == 1 && rFit.rowsOut == 2,
      s"1 frozen span -> 2 (footer + the emergent template): $rFit")
    // commit-by-rename: the staged table swapped in (committed) and
    // the staging dir is gone — a mid-refit crash must never leave
    // fitted=false (which would silently RE-SEED from the next delta)
    assert(Files.exists(java.nio.file.Paths.get(s"$base/state/scrub/spans/_SUCCESS")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$base/state/scrub/spans.refit.tmp")),
      "refit staging dir must be renamed away")
    assert(new java.io.File(s"$base/state/scrub").list().forall(!_.startsWith(".swap-")),
      "swap's writing, staged and parked dirs must be renamed away")
    // future batches scrub the formerly-emergent template; history
    // stays as scrubbed (the refit governs forward, the CDC contract)
    val fourthP = write("fourth", Seq(doc(300L, tplY)))
    run(fourthP, 4L)
    val t4 = texts()
    assert(!t4(300L).contains("brand"), "the re-fit model scrubs the emergent template")
    assert((100L until 102L).forall(i => t4(i).contains("brand")),
      "already-written batches stay under the table they were scrubbed with")
    assert(stats().contains(""""scrub_emergent_spans":0"""),
      s"incorporated evidence is no longer emergent: ${stats()}")
    // the drift baseline was retired with the old model and
    // re-established from this batch's realized rate — a stale
    // baseline comparing against a dead model must not cry wolf
    assert(!stats().contains("drift_warnings"), stats())
    // the evidence is width-bound: w= cannot change at refit
    val eW = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("scrub-refit", s"state=$base/state", "w=5")))
    assert(eW.getMessage.contains("frozen chunk width"), eW.getMessage)

    // an interrupted refit (crash between the swap renames: old
    // generation parked at .old.tmp, no live spans) REFUSES further
    // batches — never a silent re-seed under opts-default knobs — and
    // a re-run scrub-refit recovers from the aside dir and completes
    // the swap (the mix-refit discipline)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$base/state/scrub/spans"),
      java.nio.file.Paths.get(s"$base/state/scrub/spans.old.tmp"))
    val eInt = intercept[IllegalArgumentException](run(fourthP, 5L))
    assert(eInt.getMessage.contains("interrupted scrub-refit"), eInt.getMessage)
    val rRec = Main.runPipeline(spark, Seq("scrub-refit", s"state=$base/state"))
    assert(rRec.rowsOut == 2L, s"recovered refit re-fits from the evidence: $rRec")
    assert(Files.exists(java.nio.file.Paths.get(
      s"$base/state/scrub/spans/_SUCCESS")), "swap completed")
    assert(!Files.exists(java.nio.file.Paths.get(
      s"$base/state/scrub/spans.old.tmp")), "aside dir reclaimed")
    run(write("fifth", Seq(doc(400L, tplY))), 5L)
    assert(!texts()(400L).contains("brand"),
      "the recovered model scrubs like the committed one")
  }

  test("corpus-pipeline incremental decontaminate: eval state frozen on seed; deltas run evals-free; conflicts refuse") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_fdec").toString
    val vocab = Seq("model", "training", "corpus", "token", "gradient",
      "layer", "attention", "embedding", "loss", "batch", "epoch", "weight")
    def body(seed: Long): String = {
      val rnd = new scala.util.Random(seed)
      Seq.fill(5)(rnd.shuffle(vocab)).flatten.mkString(" ")
    }
    Seq((900L, body(200L))).toDF("doc_id", "text").write.parquet(s"$base/e1.parquet")
    Seq((901L, body(300L))).toDF("doc_id", "text").write.parquet(s"$base/e2.parquet")
    def write(name: String, docs: Seq[(Long, String, String)]): String = {
      val p = s"$base/$name.parquet"
      docs.toDF("doc_id", "lang", "text").write.parquet(p)
      p
    }
    def run(in: String, batch: Long, extra: Seq[String] = Nil) =
      Main.runPipeline(spark, Seq("corpus-pipeline", s"in=$in",
        s"out=$base/out", "steps=decontaminate", "incremental=true",
        s"state=$base/state", s"batch=$batch") ++ extra)

    // seed: 5 fresh docs + 1 verbatim eval copy; evals= fits the
    // frozen state (gram table + evals copy + fingerprint sidecars)
    val seedP = write("seed",
      (0L until 5L).map(i => (i, "en", body(i))) :+ ((5L, "en", body(200L))))
    val rA = run(seedP, 1L, Seq(s"evals=$base/e1.parquet"))
    assert(rA.rowsOut == 5, s"seed drops the eval copy: $rA")
    assert(Files.exists(java.nio.file.Paths.get(
      s"$base/state/decontaminate/grams/_SUCCESS")))
    assert(Files.exists(java.nio.file.Paths.get(
      s"$base/state/decontaminate", "fingerprint.txt")))

    // the point of freezing: a delta batch decontaminates WITHOUT
    // reading evals= — exact copy AND near copy both dropped under
    // the frozen gram table / evals copy
    val deltaP = write("delta", (10L until 13L).map(i => (i, "en", body(100L + i))) ++
      Seq((13L, "en", body(200L)), (14L, "en", body(200L) + " tailzz")))
    val rB = run(deltaP, 2L)
    assert(rB.rowsOut == 3,
      s"delta drops exact (13) and near (14) eval copies evals-free: $rB")
    assert(spark.read.parquet(s"$base/state/survivors")
      .select("doc_id").collect().map(_.getLong(0)).toSet ==
      ((0L until 5L) ++ (10L until 13L)).toSet)

    // a DIFFERENT evals= on a later batch refuses: batches must never
    // be decontaminated against silently different contracts
    val eFp = intercept[IllegalArgumentException](
      run(deltaP, 3L, Seq(s"evals=$base/e2.parquet")))
    assert(eFp.getMessage.contains("fingerprint mismatch"), eFp.getMessage)
    // the SAME evals= passes the fingerprint check (no false refusal)
    run(deltaP, 2L, Seq(s"evals=$base/e1.parquet"))
    // the shingle size is part of the frozen model
    val eK = intercept[IllegalArgumentException](run(deltaP, 3L, Seq("k=7")))
    assert(eK.getMessage.contains("frozen"), eK.getMessage)
  }

  test("corpus-pipeline: opt-in index step builds validated retrieval artifacts (minrecall floor enforced)") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_main_pidx").toString
    // 100 tight clusters × 10 members (the PqIndexSpec floor fixture):
    // recall is high under a sane layout, provably poor shattered
    val vecs = for (c <- 0 until 100; i <- 0 until 10) yield {
      val anchor = graft.VecFixtures.unit(64, 3000L + c)
      val rnd = new scala.util.Random(c * 1000L + i)
      ((c * 10 + i).toLong, anchor.map(x => x + 0.03f * rnd.nextGaussian().toFloat))
    }
    // docs cover only HALF the vector ids — the survivor semi-join
    // must keep the other half out of the index. The index tokenizer
    // is letter-runs, so the per-cluster marker must be letters-only
    // (and distinct per cluster, or BM25's idf degenerates)
    def cword(c: Long) = s"cl${('a' + c / 10).toChar}${('a' + c % 10).toChar}"
    val docIds = vecs.map(_._1).filter(_ % 2 == 0)
    docIds.map(id => (id, "en", s"${cword(id / 10)} docbody corpus text"))
      .toDF("doc_id", "lang", "text").write.parquet(s"$base/docs.parquet")
    vecs.toDF("id", "vec").write.parquet(s"$base/vecs.parquet")
    val r = Main.runPipeline(spark, Seq("corpus-pipeline",
      s"in=$base/docs.parquet", s"out=$base/out", "steps=index",
      s"vectors=$base/vecs.parquet", "minrecall=0.6"))
    assert(r.rowsOut == docIds.size.toLong)
    // text index serves the survivors
    val ti = new graft.similarity.TextIndex(spark, s"$base/out/text_index")
    val hits = ti.search(Seq(1 -> cword(7)), topK = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hits.nonEmpty && hits.forall(id => id / 10 == 7 && id % 2 == 0), s"$hits")
    // vector index serves only survivor ids (the semi-join bound)
    val vi = new graft.similarity.PqIndex(spark, s"$base/out/index")
    val got = vi.topK(Seq((1L, graft.VecFixtures.unit(64, 3000L + 7))).toDF("id", "vec"), 5)
      .select("neighbor_id").collect().map(_.getLong(0))
    assert(got.nonEmpty && got.forall(_ % 2 == 0),
      s"index must hold only survivor vectors: ${got.toSeq}")
    // the DAG's build honors the recall floor: a shattered layout
    // (cells >> clusters, single probe) fails loudly at build
    val err = intercept[RuntimeException](Main.runPipeline(spark, Seq("corpus-pipeline",
      s"in=$base/docs.parquet", s"out=$base/out2", "steps=index",
      s"vectors=$base/vecs.parquet", "cells=500", "probe=1", "minrecall=0.6")))
    assert(err.getMessage.contains("recall validation"), err.getMessage)
    // ordering guard: index before a frame-mutating stage would serve
    // docs that stage later drops — refuse up front, like the
    // langid-before-mix guard
    val eOrd = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$base/docs.parquet", s"out=$base/out3",
        "steps=index,clean", s"vectors=$base/vecs.parquet")))
    assert(eOrd.getMessage.contains("BEFORE"), eOrd.getMessage)
  }

  test("corpus-pipeline incremental index: seed builds over survivors, deltas CDC-add, replay idempotent, takedown composes") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_iidx").toString
    val vocab = Seq("model", "training", "corpus", "token", "gradient",
      "layer", "attention", "embedding", "loss", "batch", "epoch", "weight")
    def body(seed: Long): String = {
      val rnd = new scala.util.Random(seed)
      Seq.fill(5)(rnd.shuffle(vocab)).flatten.mkString(" ")
    }
    // letters-only per-cluster marker (the index tokenizer is letter
    // runs; a digit-bearing marker would vanish)
    def cword(c: Long) = s"cl${('a' + c / 10).toChar}${('a' + c % 10).toChar}"
    // 30 tight clusters × 10 members, split WITHIN clusters: members
    // 0-4 arrive in batch A (the seed — so the frozen quantizers cover
    // every cluster direction), members 5-9 in batch B (the CDC adds).
    // An out-of-domain delta is a drift problem, not an index-plumbing
    // one — the select-drift spec owns that story.
    val vecs = for (c <- 0 until 30; i <- 0 until 10) yield {
      val anchor = graft.VecFixtures.unit(64, 7000L + c)
      val rnd = new scala.util.Random(c * 1000L + i)
      ((c * 10 + i).toLong, anchor.map(x => x + 0.03f * rnd.nextGaussian().toFloat))
    }
    def docRow(id: Long) = (id, "en", s"${cword(id / 10)} ${body(id)}")
    val allIds = (0L until 300L)
    val batchA = allIds.filter(_ % 10 < 5).map(docRow)
    // batch B carries a near-dup of doc 0 (id 900): clean drops it, so
    // its vector must never reach the index (the survivor binding the
    // batch `index` step guarantees, preserved incrementally)
    val batchB = allIds.filter(_ % 10 >= 5).map(docRow) :+
      ((900L, "en", s"${cword(0)} ${body(0)} tailzz"))
    batchA.toDF("doc_id", "lang", "text").write.parquet(s"$base/a.parquet")
    batchB.toDF("doc_id", "lang", "text").write.parquet(s"$base/b.parquet")
    (batchA ++ batchB).toDF("doc_id", "lang", "text").write.parquet(s"$base/all.parquet")
    (vecs :+ ((900L, graft.VecFixtures.unit(64, 7000L))))
      .toDF("id", "vec").write.parquet(s"$base/vecs.parquet")
    def run(in: String, state: String, batch: Long) = Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$in", s"out=$base/out", "steps=clean,index",
        "incremental=true", s"state=$state", s"batch=$batch",
        s"vectors=$base/vecs.parquet"))
    // a CRASHED prior seed left models.txt without a committed codes
    // manifest: the step must re-seed (models.txt alone is not
    // "built"), never CDC-add onto a store that never saw the corpus
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/state/index"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/state/index", "models.txt"), "crashed\n")
    run(s"$base/a.parquet", s"$base/state", 1L)
    run(s"$base/b.parquet", s"$base/state", 2L)

    // the vector index holds EXACTLY the accumulated survivors — every
    // batch-A and batch-B member, never the cleaned-away 900
    def codeIds(state: String): Set[Long] =
      new graft.sources.SnapshotStore(spark, s"$state/index/codes", key = "neighbor_id")
        .read().get.select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(codeIds(s"$base/state") == (0L until 300L).toSet,
      "codes == survivors of both batches (survivor binding, no 900)")

    // text side: both batches servable from the accumulated state, and
    // the serve is IDENTICAL to an index seeded over the whole union
    // in one batch (the TextIndex add-parity contract, end to end)
    run(s"$base/all.parquet", s"$base/state1", 1L)
    def hits(state: String): Seq[(Int, Int, Long, Long)] = {
      val ti = new graft.similarity.TextIndex(spark, s"$state/text_index")
      ti.search(Seq(1 -> cword(3), 2 -> cword(20)), topK = 10)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .toSeq.sorted
    }
    val twoBatch = hits(s"$base/state")
    assert(twoBatch == hits(s"$base/state1"),
      "two-batch text serve must equal the one-shot union build")
    assert(twoBatch.filter(_._1 == 1).map(_._3).toSet == (30L until 40L).toSet)
    assert(twoBatch.filter(_._1 == 2).map(_._3).toSet == (200L until 210L).toSet)

    // vector side: a batch-B member's query retrieves its cluster, and
    // the top-10 contains batch-B-ADDED ids — the codes written under
    // the frozen batch-A models are genuinely servable, not just
    // present in the store. (Tight clusters share PQ codes, so ADC
    // ties break by neighbor_id — self-rank is not the observable;
    // cluster membership is.)
    val vi = new graft.similarity.PqIndex(spark, s"$base/state/index")
    val qs = ((75L until 80L) ++ (205L until 210L))
      .map(id => (id, vecs(id.toInt)._2)).toDF("id", "vec")
    val byQuery = vi.topK(qs, 10)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    qs.collect().map(_.getLong(0)).foreach { q =>
      val cluster = (q / 10 * 10) until (q / 10 * 10 + 10)
      val inCluster = byQuery(q).count(cluster.contains)
      assert(inCluster >= 8, s"query $q cluster recall@10: $inCluster (${byQuery(q)})")
      val added = byQuery(q).count(id => cluster.contains(id) && id % 10 >= 5)
      assert(added >= 3, s"query $q must surface batch-B-added codes: ${byQuery(q)}")
    }

    // replay of batch B is idempotent: keyed replaces, no duplicate
    // codes, text serve unchanged
    run(s"$base/b.parquet", s"$base/state", 2L)
    val perId = new graft.sources.SnapshotStore(spark, s"$base/state/index/codes",
      key = "neighbor_id").read().get
      .groupBy("neighbor_id").count().filter(col("count") > 1).count()
    assert(perId == 0L, "replay must not duplicate any code row")
    assert(hits(s"$base/state") == twoBatch, "replay leaves the text serve unchanged")

    // a batch whose survivors lack embeddings warns LOUDLY about the
    // serving gap (the silent-partial-coverage failure mode) but still
    // indexes what it can
    val batchC = Seq((950L, "en", s"${cword(5)} ${body(5000L)}"))
    batchC.toDF("doc_id", "lang", "text").write.parquet(s"$base/c.parquet")
    val errBuf = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    try {
      System.setErr(new java.io.PrintStream(errBuf, true))
      run(s"$base/c.parquet", s"$base/state", 3L)
    } finally System.setErr(realErr)
    assert(errBuf.toString.contains("no embedding in vectors="),
      s"partial vector coverage must warn: ${errBuf.toString.takeRight(400)}")
    assert(!codeIds(s"$base/state").contains(950L),
      "an uncovered survivor stays out of the vector side")

    // takedown rides the standalone maintenance commands against the
    // SAME state dirs the DAG maintains
    Seq((205L, 0)).toDF("id", "x").select("id")
      .write.parquet(s"$base/takedown.parquet")
    Main.runPipeline(spark, Seq("index-delete", s"in=$base/takedown.parquet",
      s"index=$base/state/index"))
    Main.runPipeline(spark, Seq("text-index-delete", s"in=$base/takedown.parquet",
      "idcol=id", s"index=$base/state/text_index"))
    assert(!codeIds(s"$base/state").contains(205L), "vector takedown")
    assert(!hits(s"$base/state").map(_._3).contains(205L), "text takedown")
  }

  test("store stats commands: k=v reports for the three persistent stores; unbuilt reads built=false") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_stats").toString
    val vocab = Seq("model", "training", "corpus", "token", "gradient",
      "layer", "attention", "embedding", "loss", "batch", "epoch", "weight")
    def body(seed: Long): String = {
      val rnd = new scala.util.Random(seed)
      Seq.fill(5)(rnd.shuffle(vocab)).flatten.mkString(" ")
    }
    (0L until 12L).map(id => (id, "en", s"doc${('a' + id).toChar} ${body(id)}"))
      .toDF("doc_id", "lang", "text").write.parquet(s"$base/docs.parquet")
    // 80 vectors: the PQ fit needs more samples than its 16 centroids
    (0L until 80L).map(id => (id, graft.VecFixtures.unit(64, 500L + id)))
      .toDF("id", "vec").write.parquet(s"$base/vecs.parquet")
    Main.runPipeline(spark, Seq("text-index-build", s"in=$base/docs.parquet",
      s"index=$base/ti"))
    Main.runPipeline(spark, Seq("index-build", s"in=$base/vecs.parquet",
      s"index=$base/vi"))
    Main.runPipeline(spark, Seq("corpus-clean", s"in=$base/docs.parquet",
      s"index=$base/sig", s"out=$base/cleaned", "batch=1"))
    def report(cmd: String, dir: String): (Map[String, String], Main.PipelineStats) = {
      val buf = new java.io.ByteArrayOutputStream()
      val st = Console.withOut(new java.io.PrintStream(buf, true)) {
        Main.runPipeline(spark, Seq(cmd, s"index=$dir"))
      }
      (buf.toString.linesIterator.filter(_.contains("="))
        .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap, st)
    }
    val (ti, tiSt) = report("text-index-stats", s"$base/ti")
    assert(ti("built") == "true" && ti("docs") == "12" &&
      ti("total_tokens").toLong > 0 && ti("term_parts").toInt >= 1 &&
      ti("postings_rows").toLong > 0 && ti("live_files").toInt >= 1, ti.toString)
    assert(tiSt.rowsOut == ti.size.toLong)
    val (vi, _) = report("index-stats", s"$base/vi")
    assert(vi("built") == "true" && vi("vectors") == "80" &&
      vi("dim") == "64" && vi("cells").toInt >= 1 &&
      vi("probe_resolved").toInt >= 1 && vi("live_files").toInt >= 1, vi.toString)
    val (si, _) = report("sig-stats", s"$base/sig")
    assert(si("built") == "true" && si("docs") == "12" &&
      si("band_parts").toInt >= 1 && si("sig_live_files").toInt >= 1 &&
      si("band_live_files").toInt >= 1, si.toString)
    // a dir with no committed store reports built=false, not a crash
    val (empty, emptySt) = report("index-stats", s"$base/nowhere")
    assert(empty == Map("built" -> "false") && emptySt.rowsOut == 1L, empty.toString)
  }

  test("pipeline-stats: fitted and unfitted state dirs report without crashing; driftband knob validates up front") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_pstats").toString
    def report(state: String): (Map[String, String], Main.PipelineStats) = {
      val buf = new java.io.ByteArrayOutputStream()
      val st = Console.withOut(new java.io.PrintStream(buf, true)) {
        Main.runPipeline(spark, Seq("pipeline-stats", s"state=$state"))
      }
      (buf.toString.linesIterator.filter(_.contains("="))
        .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap, st)
    }
    // an unbuilt state dir reports everything unfitted, never crashes
    val (empty, emptySt) = report(s"$base/nowhere")
    assert(empty("lease") == "free" && empty("mix_fitted") == "false" &&
      empty("scrub_fitted") == "false" && empty("select_fitted") == "false" &&
      empty("survivors") == "false" && empty("mix_supply_batches") == "0", empty.toString)
    assert(emptySt.rowsOut == empty.size.toLong)
    // seed scrub + mix in one incremental batch, then the report
    // carries the frozen knobs, evidence counts, and drift baselines
    val footer = "subscribe newsletter daily updates"
    val docs = (0L until 5L)
      .map(i => (i, "en", (1 to 8).map(j => s"w${i}x$j").mkString(" ") + " " + footer))
    docs.toDF("doc_id", "lang", "text").write.parquet(s"$base/in.parquet")
    Main.runPipeline(spark, Seq("corpus-pipeline", s"in=$base/in.parquet",
      s"out=$base/out", "steps=scrub,mix", "incremental=true",
      s"state=$base/state", "batch=1", "w=4", "mindocs=3", "budget=30"))
    val (kv, st) = report(s"$base/state")
    assert(kv("lease") == "free", kv.toString)
    assert(kv("scrub_fitted") == "true" && kv("scrub_w") == "4" &&
      kv("scrub_mindocs") == "3" && kv("scrub_freq_batches") == "1", kv.toString)
    assert(kv("mix_fitted") == "true" && kv("mix_budget") == "30" &&
      kv("mix_alpha") == "0.5" && kv("mix_tokens") == "pre" &&
      kv("mix_supply_batches") == "1", kv.toString)
    assert(kv("mix_seed_keep").toDouble > 0 && kv("scrub_seed_hit").toDouble > 0,
      kv.toString)
    assert(kv("survivors") == "true" && kv("select_fitted") == "false", kv.toString)
    assert(st.rowsOut == kv.size.toLong)
    // a LEASED dir reports the holder AND the lease file's age — with
    // stage-boundary heartbeats the mtime is the holder's liveness
    // signal, so the age is the operator's crashed-vs-progressing tell
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/state/.lease.txt"),
      "holder=corpus-pipeline pid=7 acquired_ms=0 nonce=x\n")
    val (kvL, _) = report(s"$base/state")
    assert(kvL("lease").contains("pid=7") && kvL("lease_age_s").toLong >= 0,
      kvL.toString)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$base/state/.lease.txt"))
    // an interrupted refit surfaces as a flag, mirroring the refusal
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$base/state/mix/thresholds"),
      java.nio.file.Paths.get(s"$base/state/mix/thresholds.old.tmp"))
    val (kv2, _) = report(s"$base/state")
    assert(kv2("mix_fitted") == "false" && kv2("mix_interrupted_refit") == "true", kv2.toString)
    Main.runPipeline(spark, Seq("mix-refit", s"state=$base/state"))
    // driftband: nonsense refuses up front; misdirected (full run) refuses
    for (bad <- Seq("0", "-1", "11")) {
      val e = intercept[IllegalArgumentException](Main.runPipeline(spark,
        Seq("corpus-pipeline", s"in=$base/in.parquet", s"out=$base/out2",
          "steps=mix", "incremental=true", s"state=$base/state", "batch=2",
          "budget=30", s"driftband=$bad")))
      assert(e.getMessage.contains("driftband"), s"$bad: ${e.getMessage}")
    }
    val eFull = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$base/in.parquet", s"out=$base/out2",
        "steps=mix", "budget=30", "driftband=0.5")))
    assert(eFull.getMessage.contains("incremental"), eFull.getMessage)
    // the knob is the band: batch 3 (first post-refit) re-establishes
    // the baseline from the seed docs' keep rate; batch 4 brings a
    // different id set whose residue mix lands a MODEST rate move —
    // a hairline band must trip on it, the default ±25% absorbs it
    Main.runPipeline(spark, Seq("corpus-pipeline", s"in=$base/in.parquet",
      s"out=$base/out3", "steps=mix", "incremental=true",
      s"state=$base/state", "batch=3", "budget=30"))
    // ids 20..32: exactly 3 of 13 residues fall under the frozen keep
    // threshold → batch rate 0.231 vs the 0.2 baseline — a +15% move,
    // inside the default ±25% band, outside any hairline band
    (20L until 33L).map(i => (i, "en", (1 to 12).map(j => s"w${i}x$j").mkString(" ")))
      .toDF("doc_id", "lang", "text").write.parquet(s"$base/in4.parquet")
    Main.runPipeline(spark, Seq("corpus-pipeline", s"in=$base/in4.parquet",
      s"out=$base/out4", "steps=mix", "incremental=true",
      s"state=$base/state", "batch=4", "budget=30", "driftband=0.0001"))
    val stats4 = Files.readString(java.nio.file.Paths.get(s"$base/out4", "stats.json"))
    assert(stats4.contains("drift_warnings"),
      s"a hairline band must trip on a nonzero rate move: $stats4")
    Main.runPipeline(spark, Seq("corpus-pipeline", s"in=$base/in4.parquet",
      s"out=$base/out5", "steps=mix", "incremental=true",
      s"state=$base/state", "batch=4", "budget=30"))
    val stats5 = Files.readString(java.nio.file.Paths.get(s"$base/out5", "stats.json"))
    assert(!stats5.contains("drift_warnings"),
      s"the default band must absorb the same move: $stats5")
  }

  test("corpus-pipeline langid step: assigns lang to raw lang-less corpora; incremental freezes the profile table") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_langid").toString
    // raw corpora: doc_id + text ONLY — the shape a crawl delivers
    Seq(
      (1L, "the cat and the dog it is with that"),
      (2L, "der hund und die katze ist nicht ein problem mit"),
      (3L, "le chat et la maison est dans une rue"),
      (4L, "el gato es una casa con los perros por que"))
      .toDF("doc_id", "text").write.parquet(s"$base/raw.parquet")
    Seq((5L, "good morning everyone we will go shopping"),
      (6L, "guten morgen alle zusammen wir fahren zum markt"))
      .toDF("doc_id", "text").write.parquet(s"$base/raw2.parquet")
    // a (lang, text) profile slice for the derived-profile path
    Seq(("en", "tomorrow we will go shopping because we need fresh vegetables the cat and dog"),
      ("de", "wir fahren morgen zum markt weil wir frisches gemüse brauchen der hund und die katze"))
      .toDF("lang", "text").write.parquet(s"$base/slice.parquet")
    Seq(("en", "completely different profile corpus here"),
      ("de", "ganz anderes profil korpus hier"))
      .toDF("lang", "text").write.parquet(s"$base/slice2.parquet")

    // full run: langid assigns the easy set correctly under builtin
    Main.runPipeline(spark, Seq("corpus-pipeline", s"in=$base/raw.parquet",
      s"out=$base/out1", "steps=langid"))
    val got = spark.read.parquet(s"$base/out1/survivors")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es"),
      s"builtin profiles must label the easy set: $got")

    // lang-less input WITHOUT the langid step refuses up front
    val eNoLang = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$base/raw.parquet", s"out=$base/out_nolang",
        "steps=clean")))
    assert(eNoLang.getMessage.contains("no lang column"), eNoLang.getMessage)
    // ...and presence is not enough: a lang-keyed stage BEFORE langid
    // would join on the null lang and silently empty the corpus
    val eOrder = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$base/raw.parquet", s"out=$base/out_order",
        "steps=mix,langid", "budget=1000")))
    assert(eOrder.getMessage.contains("BEFORE langid"), eOrder.getMessage)

    // incremental: seed batch freezes the BUILTIN table; a later
    // profiles= must refuse (it would relabel under a different
    // classifier), and a plain delta labels under the frozen table
    Main.runPipeline(spark, Seq("corpus-pipeline", s"in=$base/raw.parquet",
      s"out=$base/outi", "steps=langid", "incremental=true",
      s"state=$base/state1", "batch=1"))
    val eProf = intercept[RuntimeException](Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$base/raw2.parquet", s"out=$base/outi",
        "steps=langid", "incremental=true", s"state=$base/state1", "batch=2",
        s"profiles=$base/slice.parquet")))
    assert(eProf.getMessage.contains("froze the BUILTIN"), eProf.getMessage)
    Main.runPipeline(spark, Seq("corpus-pipeline", s"in=$base/raw2.parquet",
      s"out=$base/outi", "steps=langid", "incremental=true",
      s"state=$base/state1", "batch=2"))
    val inc = spark.read.parquet(s"$base/state1/survivors")
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(inc(5L) == "en" && inc(6L) == "de" && inc.size == 6,
      s"delta labeled under the frozen builtin table: $inc")

    // derived-profile freeze: same slice passes the fingerprint, a
    // different slice refuses
    Main.runPipeline(spark, Seq("corpus-pipeline", s"in=$base/raw.parquet",
      s"out=$base/outd", "steps=langid", "incremental=true",
      s"state=$base/state2", "batch=1", s"profiles=$base/slice.parquet"))
    Main.runPipeline(spark, Seq("corpus-pipeline", s"in=$base/raw2.parquet",
      s"out=$base/outd", "steps=langid", "incremental=true",
      s"state=$base/state2", "batch=2", s"profiles=$base/slice.parquet"))
    val derived = spark.read.parquet(s"$base/state2/survivors")
      .select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(derived.subsetOf(Set("en", "de")),
      s"derived 2-language profile can only emit its own languages: $derived")
    val eFp = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$base/raw2.parquet", s"out=$base/outd",
        "steps=langid", "incremental=true", s"state=$base/state2", "batch=3",
        s"profiles=$base/slice2.parquet")))
    assert(eFp.getMessage.contains("fingerprint mismatch"), eFp.getMessage)

    // crash-window hygiene: a profiles= seed that died after its
    // fingerprint sidecar published but before the rows committed
    // must not leave the sidecar behind when a BUILTIN re-seed runs —
    // a later profiles= would fingerprint-match and pass while
    // labeling actually ran under the builtin table
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/state3/langid"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/state3/langid", "fingerprint.txt"), "12345\n")
    Main.runPipeline(spark, Seq("corpus-pipeline", s"in=$base/raw.parquet",
      s"out=$base/outc", "steps=langid", "incremental=true",
      s"state=$base/state3", "batch=1"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/state3/langid", "fingerprint.txt")),
      "a builtin re-seed must remove a crashed profiles= seed's fingerprint sidecar")
    val eStale = intercept[RuntimeException](Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$base/raw2.parquet", s"out=$base/outc",
        "steps=langid", "incremental=true", s"state=$base/state3", "batch=2",
        s"profiles=$base/slice.parquet")))
    assert(eStale.getMessage.contains("froze the BUILTIN"), eStale.getMessage)
  }

  test("runs-report renders the per-batch journal: walls, rates, drift flags; refuses without a journal") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_runsrep").toString
    val vocab = Seq("model", "training", "corpus", "token", "gradient",
      "layer", "attention", "embedding", "loss", "batch", "epoch", "weight")
    def body(seed: Long): String = {
      val rnd = new scala.util.Random(seed)
      Seq.fill(5)(rnd.shuffle(vocab)).flatten.mkString(" ")
    }
    def docRow(id: Long) = (id, "en", s"doc${('a' + id % 26).toChar} ${body(id)}")
    (0L until 15L).map(docRow).toDF("doc_id", "lang", "text")
      .write.parquet(s"$base/a.parquet")
    (15L until 30L).map(docRow).toDF("doc_id", "lang", "text")
      .write.parquet(s"$base/b.parquet")
    def run(in: String, batch: Long) =
      Main.runPipeline(spark, Seq("corpus-pipeline", s"in=$base/$in",
        s"out=$base/out", "steps=clean", "incremental=true",
        s"state=$base/state", s"batch=$batch"))
    run("a.parquet", 1L)
    run("b.parquet", 2L)
    // a third record written by hand: the journal is data, and the
    // reader must render whatever a (possibly newer or older) writer
    // left — including rates and drift warnings this cheap fixture
    // can't produce by running the frozen stages
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/out/runs", "batch=3.json"),
      """{"batch":3,"mix_budget_tokens":null,"rates":{"select_keep":0.030001},""" +
        """"drift_warnings":["select keep rate 0.03 diverges from seed 0.30"],""" +
        """"stages":[{"stage":"input","docs":100,"sec":1.5},""" +
        """{"stage":"select","docs":3,"sec":2.0},""" +
        """{"stage":"survivors","docs":3,"sec":0.5}]}""" + "\n")
    val buf = new java.io.ByteArrayOutputStream()
    val st = Console.withOut(new java.io.PrintStream(buf, true)) {
      Main.runPipeline(spark, Seq("runs-report", s"out=$base/out"))
    }
    val out = buf.toString
    val lines = out.linesIterator.toSeq
    // one row per batch, batch-sorted, with in/out doc counts
    val b1 = lines.indexWhere(_.trim.startsWith("1 "))
    val b2 = lines.indexWhere(_.trim.startsWith("2 "))
    val b3 = lines.indexWhere(_.trim.startsWith("3 "))
    assert(b1 > 0 && b2 > b1 && b3 > b2, s"batch-sorted rows expected:\n$out")
    assert(lines(b1).contains("15"), s"batch 1 input count:\n$out")
    // the hand-written record's fields all render: rate at 6 decimals,
    // the drift flag on its row, the warning text below the table
    assert(lines(b3).contains("0.030001") && lines(b3).contains("DRIFT(1)"), out)
    assert(out.contains("[batch 3] select keep rate 0.03 diverges"), out)
    // real records (no rates column values) render '-' not a crash
    assert(lines(b1).contains("-"), out)
    // the clean stage's scratch pre-flight is journaled (predicted +
    // free bytes) and rendered, so an operator sizes the next batch
    // from the report instead of re-running the probe; the
    // hand-written record (no pre-flight) renders '-'
    assert(Files.readString(java.nio.file.Paths.get(s"$base/out/runs/batch=1.json"))
      .contains("\"scratch_predicted_bytes\":"),
      "the journal must carry the pre-flight numbers")
    assert(out.contains("scr_mb/free"), s"scratch column header expected:\n$out")
    assert(lines(b1).matches(""".*\d+\.\d+/\d+.*"""),
      s"batch 1 must render predicted/free mb:\n${lines(b1)}")
    assert(st.rowsIn == 3L, s"3 journal records, got ${st.rowsIn}")
    assert(st.rowsOut == 1L, s"1 drift warning, got ${st.rowsOut}")
    // foreign-writer tolerance: a journal whose numbers are all
    // INTEGRAL (inferred long, not double) and whose rates are all
    // null (inferred string, not struct) must render, not cast-crash
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/foreign/runs"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/foreign/runs", "batch=1.json"),
      """{"batch":1,"rates":null,"stages":[{"stage":"input","docs":7,"sec":2},""" +
        """{"stage":"survivors","docs":7,"sec":1}]}""" + "\n")
    val fbuf = new java.io.ByteArrayOutputStream()
    val fst = Console.withOut(new java.io.PrintStream(fbuf, true)) {
      Main.runPipeline(spark, Seq("runs-report", s"out=$base/foreign"))
    }
    assert(fst.rowsIn == 1L && fbuf.toString.contains("3.0"),
      s"integral secs + null rates must render (wall 3.0):\n${fbuf.toString}")
    // no journal -> loud refusal naming the cause
    val e = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("runs-report", s"out=$base/nowhere")))
    assert(e.getMessage.contains("no run journal"), e.getMessage)
  }

  test("corpus-pipeline incremental maintenance: compactevery compacts the DAG's stores in-band; runs/ keeps the per-batch trajectory") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_main_maint").toString
    val vocab = Seq("model", "training", "corpus", "token", "gradient",
      "layer", "attention", "embedding", "loss", "batch", "epoch", "weight")
    def body(seed: Long): String = {
      val rnd = new scala.util.Random(seed)
      Seq.fill(5)(rnd.shuffle(vocab)).flatten.mkString(" ")
    }
    def docRow(id: Long) = (id, "en", s"doc${('a' + id % 26).toChar} ${body(id)}")
    (0L until 20L).map(docRow).toDF("doc_id", "lang", "text")
      .write.parquet(s"$base/a.parquet")
    (20L until 40L).map(docRow).toDF("doc_id", "lang", "text")
      .write.parquet(s"$base/b.parquet")
    (0L until 40L).map(id => (id, graft.VecFixtures.unit(64, 9000L + id)))
      .toDF("id", "vec").write.parquet(s"$base/vecs.parquet")
    def run(state: String, in: String, batch: Long, extra: Seq[String] = Nil) =
      Main.runPipeline(spark, Seq("corpus-pipeline", s"in=$base/$in",
        s"out=$base/out_${state.split('/').last}", "steps=clean,index",
        "incremental=true", s"state=$state", s"batch=$batch",
        s"vectors=$base/vecs.parquet") ++ extra)
    val maint = Seq("compactevery=2")

    // batch 1 (odd): no maintenance; its run record lands under runs/
    run(s"$base/state", "a.parquet", 1L, maint)
    def outDir = s"$base/out_state"
    def stats(): String =
      Files.readString(java.nio.file.Paths.get(outDir, "stats.json"))
    def runRec(b: Long): String =
      Files.readString(java.nio.file.Paths.get(outDir, "runs", s"batch=$b.json"))
    assert(!stats().contains(""""stage":"maintain""""),
      s"batch 1 % 2 != 0 must not compact: ${stats()}")
    assert(runRec(1L).contains(""""batch":1,"""), runRec(1L))

    // batch 2 (even): the maintain pass compacts all three stores the
    // DAG has been appending to, visibly (stderr + a maintain stage
    // wall in the record)
    val errBuf = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    try {
      System.setErr(new java.io.PrintStream(errBuf, true))
      run(s"$base/state", "b.parquet", 2L, maint)
    } finally System.setErr(realErr)
    assert(errBuf.toString.contains("maintain -> compacted buckets"),
      s"even batch must compact: ${errBuf.toString.takeRight(400)}")
    assert(stats().contains(""""stage":"maintain""""), stats())
    // effectiveness: a follow-up standalone compact finds NOTHING left
    // above the file bound, while an identical no-maintenance state
    // still has multi-file buckets to fold
    run(s"$base/state2", "a.parquet", 1L)
    run(s"$base/state2", "b.parquet", 2L)
    assert(Main.runPipeline(spark,
      Seq("sig-compact", s"index=$base/state/sig")).rowsOut == 0L,
      "the DAG's compact left the sig store already-compact")
    assert(Main.runPipeline(spark,
      Seq("sig-compact", s"index=$base/state2/sig")).rowsOut > 0L,
      "the no-maintenance twin still had appends to fold (else the assertion above is vacuous)")
    // contents-neutrality end-to-end: both states serve identically
    def codeIds(state: String): Set[Long] =
      new graft.sources.SnapshotStore(spark, s"$state/index/codes", key = "neighbor_id")
        .read().get.select("neighbor_id").collect().map(_.getLong(0)).toSet
    def hits(state: String): Seq[(Int, Int, Long)] =
      new graft.similarity.TextIndex(spark, s"$state/text_index")
        .search(Seq(1 -> "docb", 2 -> "docc"), topK = 10)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(codeIds(s"$base/state") == codeIds(s"$base/state2"),
      "compaction must not change the vector store contents")
    assert(hits(s"$base/state") == hits(s"$base/state2"),
      "compaction must not change the text serve")

    // the trajectory survives: one record per batch, stats.json is the
    // latest, and a replay overwrites its own record (batches, not
    // executions)
    assert(runRec(2L).contains(""""batch":2,"""), runRec(2L))
    assert(stats() == runRec(2L), "stats.json is the latest batch's record")
    run(s"$base/state", "b.parquet", 2L, maint)
    // (the local Hadoop file system keeps a hidden .crc beside each record)
    assert(new java.io.File(s"$outDir/runs").list().filterNot(_.startsWith(".")).sorted.toSeq ==
      Seq("batch=1.json", "batch=2.json"), "replay overwrites, never appends")
    assert(hits(s"$base/state") == hits(s"$base/state2"), "replay + re-compact is idempotent")

    // full runs have no accumulated store to maintain — refuse
    val eFull = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$base/a.parquet", s"out=$base/outfull",
        "steps=clean", "compactevery=2")))
    assert(eFull.getMessage.contains("compactevery= applies to incremental"),
      eFull.getMessage)
    assert(!new java.io.File(s"$base/outfull").exists(),
      "the refusal must fire up front, before any stage runs")
    // misdirected maintenance knobs refuse UP FRONT too: a negative
    // compactevery silently disables nothing, and maxfiles=0 would
    // make every bucket fat (whole-store rewrite per maintenance
    // batch) — both must fail before any stage output exists
    val eNeg = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$base/a.parquet", s"out=$base/outneg",
        "steps=clean", "incremental=true", s"state=$base/stateneg",
        "batch=3", "compactevery=-2")))
    assert(eNeg.getMessage.contains("compactevery=-2"), eNeg.getMessage)
    val eMax = intercept[IllegalArgumentException](Main.runPipeline(spark,
      Seq("corpus-pipeline", s"in=$base/a.parquet", s"out=$base/outmax",
        "steps=clean", "incremental=true", s"state=$base/statemax",
        "batch=3", "compactevery=2", "maxfiles=0")))
    assert(eMax.getMessage.contains("maxfiles=0"), eMax.getMessage)
    assert(!new java.io.File(s"$base/outneg").exists() &&
      !new java.io.File(s"$base/outmax").exists() &&
      !new java.io.File(s"$base/stateneg").exists() &&
      !new java.io.File(s"$base/statemax").exists(),
      "knob refusals fire before any stage or state output")
  }

  test("pipeline subcommands: bpe-train vocabout= then corpus-pack materializes budget-packed token ids") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_main_pack").toString
    val docs = (0L until 40L).map(i => (i, "the window of the window"))
    docs.toDF("doc_id", "text").write.parquet(s"$base/docs.parquet")
    val rt = Main.runPipeline(spark, Seq("bpe-train", "merges=8",
      s"in=$base/docs.parquet", s"out=$base/merges", s"vocabout=$base/vocab"))
    assert(rt.rowsOut == 8)
    // every doc is 5 trained tokens (see the bpe round-trip spec);
    // budget 20 / buckets 2 => 4 docs per pack, 20 docs per bucket
    // => exactly 10 packs of 20 tokens
    val rp = Main.runPipeline(spark, Seq("corpus-pack", "budget=20", "buckets=2",
      s"in=$base/docs.parquet", s"merges=$base/merges", s"vocab=$base/vocab",
      s"out=$base/packs"))
    assert(rp.rowsIn == 40 && rp.rowsOut == 10, s"expected 10 full packs: $rp")
    val packs = spark.read.parquet(s"$base/packs").collect().map(r =>
      (r.getLong(0), r.getSeq[Long](1), r.getSeq[Int](2), r.getLong(3), r.getLong(4)))
    assert(packs.forall(p => p._4 == 4L && p._5 == 20L),
      s"every pack holds 4 docs / 20 tokens: ${packs.map(p => (p._1, p._4, p._5)).toSeq}")
    // within-pack ids are the per-doc encodes concatenated in doc order
    val vocab = graft.functions.Bpe.readVocab(spark, s"$base/vocab")
    val merges = graft.functions.Bpe.readMerges(spark, s"$base/merges")
    val perDoc = Seq("the", "window", "of", "the", "window")
      .flatMap(w => graft.functions.expr.BpeUtil.encodeWord(w,
        new graft.functions.expr.BpeUtil.Model(merges)).map(t => vocab.indexOf(t)))
    packs.foreach { p =>
      assert(p._2 == p._2.sorted, s"pack ${p._1}: docs in doc_id order")
      assert(p._3 == p._2.flatMap(_ => perDoc), s"pack ${p._1}: ids are the ordered concat")
    }
    // all 40 docs appear exactly once across packs
    assert(packs.flatMap(_._2).sorted.toSeq == (0L until 40L).toSeq)
  }

  test("pipeline subcommands: decontaminate near=true emits bipartite minhash pairs") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_main_near").toString
    val w = (1 to 30).map(i => s"word$i")
    Seq((100L, w.mkString(" "))).toDF("doc_id", "text")
      .write.parquet(s"$base/evals.parquet")
    Seq((1L, (w ++ Seq("tail", "extra")).mkString(" ")), // reworded eval item
        (2L, (1 to 30).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text").write.parquet(s"$base/docs.parquet")
    val r = Main.runPipeline(spark, Seq("decontaminate", "near=true",
      s"in=$base/docs.parquet", s"evals=$base/evals.parquet", s"out=$base/pairs"))
    assert(r.rowsIn == 2 && r.rowsOut == 1)
    val got = spark.read.parquet(s"$base/pairs").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got == Set(1L -> 100L), s"only the reworded doc pairs: $got")
  }

  test("pipeline subcommands: contamination-score grades every doc, zero for clean") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_main_contam").toString
    val evalText = "alpha beta gamma delta epsilon zeta eta theta"
    Seq((100L, evalText)).toDF("doc_id", "text").write.parquet(s"$base/evals.parquet")
    Seq(
      (1L, evalText),                                           // fully contaminated
      (2L, "alpha beta gamma delta epsilon completely new tail"), // partial overlap
      (3L, "utterly unrelated words about something else here"),  // clean
      (4L, "tiny doc"))                                           // < k words, no grams
      .toDF("doc_id", "text").write.parquet(s"$base/docs.parquet")
    val r = Main.runPipeline(spark, Seq("contamination-score",
      s"in=$base/docs.parquet", s"evals=$base/evals.parquet", s"out=$base/scored"))
    assert(r.rowsIn == 4 && r.rowsOut == 4, "every doc is scored, clean ones included")
    val got = spark.read.parquet(s"$base/scored")
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(got(1L)._3 == 1.0, s"identical doc scores 1.0: ${got(1L)}")
    assert(got(2L)._2 == 1L && got(2L)._3 > 0.0 && got(2L)._3 < 1.0,
      s"partial overlap scores in (0,1): ${got(2L)}")
    assert(got(3L) == ((3L, 0L, 0.0)), s"clean doc scores 0: ${got(3L)}")
    assert(got(4L) == ((0L, 0L, 0.0)), s"sub-k doc has no grams and scores 0: ${got(4L)}")
  }

  test("corpus-shard write=true: one parquet file per shard, rows in shard_pos order, re-run identical") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_main_shardw").toString
    val docs = (1L to 200L).map(i => (i, s"document body $i"))
      .toDF("doc_id", "text")
    docs.write.parquet(s"$base/docs.parquet")
    def partFiles(out: String): Map[Int, Seq[java.io.File]] =
      (0 until 8).map { k =>
        k -> Option(new java.io.File(s"$out/shard=$k")
            .listFiles((_, n) => n.endsWith(".parquet")))
          .map(_.toSeq).getOrElse(Seq.empty)
      }.toMap
    def shardSeq(out: String, k: Int): Seq[(Long, Long)] =
      spark.read.parquet(partFiles(out)(k).head.getPath)
        .select("doc_id", "shard_pos").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val r = Main.runPipeline(spark, Seq("corpus-shard", "write=true", "shards=8",
      s"in=$base/docs.parquet", s"out=$base/out1"))
    assert(r.rowsIn == 200 && r.rowsOut == 200)
    val files = partFiles(s"$base/out1")
    assert(files.forall(_._2.size == 1),
      s"exactly one file per shard dir: ${files.view.mapValues(_.size).toMap}")
    val seqs = (0 until 8).map(k => k -> shardSeq(s"$base/out1", k)).toMap
    // within-file physical order IS shard_pos order, starting at 1
    seqs.foreach { case (k, rows) =>
      assert(rows.map(_._2) == (1L to rows.size).toSeq,
        s"shard $k file must be written in shard_pos order: ${rows.take(10)}")
    }
    // the written layout agrees with the assignment table operator
    val assigned = graft.queries.PipelineQueries
      .shardDocs(docs, 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    seqs.foreach { case (k, rows) =>
      rows.foreach { case (id, pos) =>
        assert(assigned(id) == (k.toLong, pos),
          s"doc $id: written (shard=$k, pos=$pos) vs assigned ${assigned(id)}")
      }
    }
    // determinism: a re-run writes identical per-shard sequences
    Main.runPipeline(spark, Seq("corpus-shard", "write=true", "shards=8",
      s"in=$base/docs.parquet", s"out=$base/out2"))
    (0 until 8).foreach(k =>
      assert(shardSeq(s"$base/out2", k) == seqs(k), s"shard $k re-run differs"))
  }

  test("pipeline subcommands: langid with corpus-slice profiles") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_main_langid").toString
    Seq(("en", "the harbor was quiet and the fishermen checked their nets in the morning light"),
      ("it", "il porto era tranquillo e i pescatori controllavano le reti nella luce del mattino"))
      .toDF("lang", "text").write.parquet(s"$base/slices.parquet")
    // input WITHOUT a lang column — it is optional on the CLI path
    Seq((1L, "the fishermen will check the nets tomorrow morning"),
      (2L, "i pescatori controlleranno le reti domani mattina"))
      .toDF("doc_id", "text").write.parquet(s"$base/docs.parquet")
    val r = Main.runPipeline(spark, Seq("langid",
      s"in=$base/docs.parquet", s"out=$base/pred", s"profiles=$base/slices.parquet"))
    assert(r.rowsIn == 2 && r.rowsOut == 2)
    val pred = spark.read.parquet(s"$base/pred")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(pred == Map(1L -> "en", 2L -> "it"),
      s"slice-derived profiles must drive the prediction: $pred")
  }

  test("quality weights ingestion fails loudly on malformed model files") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_main_qweights").toString
    Seq((5000, 1L)).toDF("bucket", "weight_milli")
      .write.parquet(s"$base/oob.parquet")
    val oob = intercept[IllegalArgumentException] {
      StateDir.readQualityWeights(spark, s"$base/oob.parquet")
    }
    assert(oob.getMessage.contains("outside"), oob.getMessage)
    Seq((7, 1L), (7, 2L)).toDF("bucket", "weight_milli")
      .write.parquet(s"$base/dup.parquet")
    val dup = intercept[IllegalArgumentException] {
      StateDir.readQualityWeights(spark, s"$base/dup.parquet")
    }
    assert(dup.getMessage.contains("duplicate"), dup.getMessage)
    Seq((Some(3), Some(1L)), (None, Some(2L)))
      .toDF("bucket", "weight_milli").write.parquet(s"$base/nul.parquet")
    val nul = intercept[IllegalArgumentException] {
      StateDir.readQualityWeights(spark, s"$base/nul.parquet")
    }
    assert(nul.getMessage.contains("null"), nul.getMessage)
    // partial coverage is legal: absent buckets zero-fill (documented)
    Seq((3, 42L)).toDF("bucket", "weight_milli")
      .write.parquet(s"$base/part.parquet")
    val w = StateDir.readQualityWeights(spark, s"$base/part.parquet")
    assert(w(3) == 42L && w.sum == 42L)
  }

  test("query subcommand runs any registered operator by name") {
    val base = java.nio.file.Files.createTempDirectory("graft_main_query").toString
    val r = Main.runPipeline(spark, Seq("query",
      "name=q1_pricing_summary", s"dir=${sf("any")}", s"out=$base/q1"))
    val direct = SparkEntry.queries("q1_pricing_summary")(spark, sf("any"))
    assert(r.rowsOut == direct.count() && r.rowsOut > 0)
    assert(spark.read.parquet(s"$base/q1").columns.sameElements(direct.columns))
    val bad = intercept[RuntimeException] {
      Main.runPipeline(spark, Seq("query", "name=nope", s"dir=${sf("any")}", s"out=$base/x"))
    }
    assert(bad.getMessage.contains("unknown query"))
  }

  test("sql subcommand: graft_* views expose the registry to SQL-only users, composably") {
    val base = java.nio.file.Files.createTempDirectory("graft_main_sql").toString
    // a sampled set of views must equal their registry outputs exactly
    for (name <- Seq("q1_pricing_summary", "tag_stats", "dedup_exact", "text_tokens")) {
      val r = Main.runPipeline(spark, Seq("sql",
        s"query=SELECT * FROM graft_$name", s"dir=${sf("any")}", s"out=$base/$name"))
      val direct = SparkEntry.queries(name)(spark, sf("any"))
      assert(r.rowsOut == direct.count(), s"view graft_$name row count drifted")
      assert(spark.read.parquet(s"$base/$name").columns.sameElements(direct.columns))
    }
    // composition is the point of a SQL surface: filter + aggregate
    // OVER a view plans through Catalyst like any table
    val agg = Main.runPipeline(spark, Seq("sql",
      "query=SELECT count(*) AS n FROM graft_q1_pricing_summary WHERE sum_qty > 0",
      s"dir=${sf("any")}", s"out=$base/agg"))
    assert(agg.rowsOut == 1)
    // view list is operable
    val listed = Main.runPipeline(spark, Seq("sql", "query=list",
      s"dir=${sf("any")}", s"out=$base/unused"))
    assert(listed.rowsOut == SparkEntry.queries.size.toLong)
  }

  test("sql subcommand: view detection is word-bounded — a prefixed name does not drag its prefix in") {
    val base = java.nio.file.Files.createTempDirectory("graft_main_sqlwb").toString
    // corpus_mix prefixes corpus_mix_temperature in the registry;
    // querying the LONGER view must not eagerly construct the shorter
    assert(SparkEntry.queries.contains("corpus_mix") &&
      SparkEntry.queries.contains("corpus_mix_temperature"), "fixture premise")
    spark.catalog.dropTempView("graft_corpus_mix")
    spark.catalog.dropTempView("graft_corpus_mix_temperature")
    val r = Main.runPipeline(spark, Seq("sql",
      "query=SELECT count(*) AS n FROM graft_corpus_mix_temperature",
      s"dir=${sf("any")}", s"out=$base/t"))
    assert(r.rowsOut == 1)
    assert(spark.catalog.tableExists("graft_corpus_mix_temperature"))
    assert(!spark.catalog.tableExists("graft_corpus_mix"),
      "prefix view must not be registered by a query over the longer name")
  }

  test("data-quality report frame carries per-column null rates") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Some("a")), (2L, None), (3L, None)).toDF("id", "v")
    val rep = DataQuality.validate(df, "t", Seq("id", "v", "missing_col"), 1L, 0.5)
    assert(!rep.passed && rep.failures.exists(_.contains("missing_col")) &&
      rep.failures.exists(_.contains("null rate")))
    assert(rep.nullRates("v") > 0.66 && rep.nullRates("v") < 0.67)
    val frame = DataQuality.reportFrame(spark, Seq(rep)).collect()
    assert(frame.length == 2 && frame.forall(!_.getBoolean(4)))
  }

  test("config parses user-column bindings and defaults") {
    val cfg = GraftConfig.fromEnv(Map("GRAFT_USER_COLS" -> "a=x, b=y"))
    assert(cfg.userCol("a") == "x" && cfg.userCol("b") == "y" && cfg.userCol("c") == "user_id")
  }
}
