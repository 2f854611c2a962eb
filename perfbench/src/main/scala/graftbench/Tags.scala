package graftbench

import graft.{GraftConfig, Main}
import graft.engine.TagEngine
import graft.merge.TagMerger
import graft.rules.RuleCatalog
import graft.sources.{DataQuality, SnapshotStore, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch tag runs (`Main.run`), shared by the tag workloads. */
abstract class TagWorkload(ctx: Ctx) extends Workload {
  protected val spark = ctx.spark
  protected val expected = Json.parse(Fs.read(s"${ctx.inputs}/expected.json"))
    .asInstanceOf[Map[String, Any]]
  protected val anchor = expected("anchor").toString
  protected val userCount: Long =
    spark.read.parquet(s"${ctx.inputs}/today/user_profile.parquet").count()

  protected def cfg(dataDir: String, snapshot: String): GraftConfig =
    GraftConfig.fromEnv(Map(
      "GRAFT_CORES" -> spark.sparkContext.defaultParallelism.toString,
      "GRAFT_DATA_DIR" -> dataDir,
      "GRAFT_SNAPSHOT" -> snapshot,
      "GRAFT_RULES" -> s"${ctx.inputs}/rules.parquet",
      "GRAFT_ANCHOR" -> anchor))

  protected def snapshotOf(dir: String) = s"$dir/user_tags"

  /** `Main.run`, or — traced — the same steps rebuilt from the layer
    * functions in the same order, each span ending by materialising its
    * output (localCheckpoint where `Main.run` has one, else noop/count). */
  protected def tagRun(c: GraftConfig, args: Seq[String], traced: Boolean): Main.RunStats =
    if (!traced) Main.run(spark, c, args) else tracedRun(c, args)

  private def tracedRun(c: GraftConfig, args: Seq[String]): Main.RunStats = {
    val t0 = System.nanoTime()
    val command = args.headOption.filterNot(_.contains("=")).getOrElse("full")
    def ids(prefix: String) = args.find(_.startsWith(prefix))
      .map(_.stripPrefix(prefix).split(",").map(_.trim.toLong).toSeq)
    val tagScope = ids("tags=").map(_.map(_.toInt).toSet)
    val userScope = ids("users=")
    val store = new SnapshotStore(spark, c.snapshotPath)
    val engine = TagEngine.at(c.anchorDate.get)

    val (entries, invalid) = ctx.span("rules.catalog_load") {
      RuleCatalog.fromDataFrame(spark.read.parquet(c.rulesPath.get))
    }
    val scoped = tagScope.fold(entries)(s => entries.filter(e => s(e.tagRule.tagId)))
    val byTable = RuleCatalog.byTable(scoped)
    val required = RuleCatalog.requiredFields(scoped)
    val perTable = byTable.toSeq.sortBy(_._1).flatMap { case (table, rules) =>
      val ucol = c.userCol(table)
      val df = Tables.load(spark, c.dataDir, table)
      val report = ctx.span("sources.quality_gate") {
        DataQuality.validate(df, table, ucol +: required(table), c.minRowCount, c.maxNullRate)
      }
      if (!report.passed) None
      else {
        val users = userScope.fold(df)(u => df.filter(col(ucol).isin(u: _*)))
        Some(ctx.span("engine.tag_assignments") {
          val a = engine.tagAssignments(users, rules, ucol).localCheckpoint()
          ctx.add("engine.tag_assignments.rows_out", a.count().toDouble)
          a
        })
      }
    }
    require(perTable.nonEmpty, "every source table failed its quality gate")
    val assignments = perTable.reduce(_.unionByName(_))
    val profiles = ctx.span("merge.memory_merge") {
      TagMerger.memoryMerge(Seq(assignments)).localCheckpoint()
    }
    val scopedUsers =
      if (command == "incremental") {
        val live = Manifest.liveBytes(c.snapshotPath)
        val keys = ctx.span("sources.snapshot_keys") { store.keysFor(profiles).localCheckpoint() }
        ctx.ratio("sources.snapshot_keys.read_frac", ctx.lastInputBytes("sources.snapshot_keys"), live)
        ctx.add("sources.snapshot_keys.read_base_mb", live / 1048576.0)
        profiles.join(keys, Seq("user_id"), "left_anti")
      } else profiles
    val snap = (tagScope, store.read()) match {
      case (Some(_), Some(existing)) => ctx.span("merge.merge_existing") {
        TagMerger.mergeWithExisting(scopedUsers, existing.select("user_id", "tag_ids"))
          .localCheckpoint()
      }
      case _ => scopedUsers.localCheckpoint()
    }
    val before = Manifest.latest(c.snapshotPath)
    val liveBytes = Manifest.liveBytes(c.snapshotPath)
    val liveRows = store.read().map(_.count()).getOrElse(0L)
    val upserted = snap.count()
    ctx.span("sources.snapshot_upsert") { store.upsert(snap) }
    val (buckets, added) = Manifest.diff(c.snapshotPath, before, Manifest.latest(c.snapshotPath))
    // the bytes the upserted rows take at the snapshot's current density
    // (the whole written file size when the snapshot was empty)
    val rowBytes = if (liveRows == 0) added.toDouble else upserted * liveBytes.toDouble / liveRows
    ctx.add("sources.snapshot_upsert.buckets_touched", buckets)
    ctx.ratio("sources.snapshot_upsert.write_amp", added, rowBytes)
    ctx.add("sources.snapshot_upsert.write_base_mb", rowBytes / 1048576.0)
    val missing = ctx.span("sources.snapshot_validate") { store.validateWrite(snap) }

    val touched = scopedUsers.select("user_id")
    val written = snap.join(touched, Seq("user_id"), "left_semi")
    val hits = assignments.join(touched, Seq("user_id"), "left_semi")
      .groupBy("tag_id").count().collect()
      .map(r => r.getAs[Number]("tag_id").intValue() -> r.getLong(1)).toMap
    Main.RunStats(command, written.count(),
      written.agg(coalesce(sum(size(col("tag_ids"))), lit(0L))).head().getLong(0),
      hits, invalid, Nil, missing, (System.nanoTime() - t0) / 1e9)
  }

  protected def validate(snapshot: String): Seq[String] = {
    val snap = new SnapshotStore(spark, snapshot).read()
      .getOrElse(return Seq(s"no snapshot at $snapshot"))
    val (dups, bad) = TagMerger.validate(snap)
    if (dups == 0 && bad == 0) Nil else Seq(s"TagMerger.validate = ($dups, $bad)")
  }

  override def storeBytes(live: String): Long = Fs.bytes(snapshotOf(live))
  def liveRows(live: String): Long =
    new SnapshotStore(spark, snapshotOf(live)).read().map(_.count()).getOrElse(0L)
}

/** Nightly full re-tag (scenario 1, `Main.run full`) of every user against
  * yesterday's snapshot. Each op starts from the same snapshot. */
final class TagFull(ctx: Ctx) extends TagWorkload(ctx) {
  val name = "tag_full"
  val nominalOpS = 9.0
  override def minOps = 1
  private val hits: Map[Int, Long] = expected("hits").asInstanceOf[Map[String, Any]]
    .map { case (k, v) => k.toInt -> v.asInstanceOf[Long] }
  private var pristine = ""
  private def live = s"${ctx.work}/live"
  private var stats: Main.RunStats = _

  def setup(dir: String): Unit = {
    val s = Main.run(spark, cfg(s"${ctx.inputs}/yesterday", snapshotOf(dir)), Seq("full"))
    require(s.missingAfterWrite == 0, s"yesterday's snapshot lost ${s.missingAfterWrite} users")
  }
  def startPass(p: String): Unit = pristine = p
  def liveDir(p: String): String = live
  override def beforeOp(i: Int): Unit = Restore(pristine, live)
  def op(i: Int, traced: Boolean): Unit =
    stats = tagRun(cfg(s"${ctx.inputs}/today", snapshotOf(live)), Seq("full"), traced)
  def rowsPerOp(i: Int): Long = userCount

  def check(i: Int): Seq[String] = {
    val got = stats.perTagHits
    val wrong = (hits.keySet ++ got.keySet).toSeq.sorted
      .filter(t => hits.getOrElse(t, 0L) != got.getOrElse(t, 0L))
    (if (wrong.isEmpty) Nil else Seq(s"per-tag hits differ from the reference on ${wrong.size} tags, " +
      s"first ${wrong.head}: expected ${hits.getOrElse(wrong.head, 0L)} got ${got.getOrElse(wrong.head, 0L)}")) ++
      (if (stats.missingAfterWrite == 0) Nil
       else Seq(s"validateWrite: ${stats.missingAfterWrite} missing")) ++
      validate(snapshotOf(live))
  }
}

/** Closed loop of small tag runs (~1% of users each) against the full
  * snapshot: incremental inserts, tag-subset re-tags merged with the
  * existing tags, and re-tags of listed users, in rotation. */
final class TagDelta(ctx: Ctx) extends TagWorkload(ctx) {
  val name = "tag_delta"
  val nominalOpS = 10.5
  /** An incremental and a tag-subset op; the listed-user kind comes third. */
  override def minOps = 2

  private final case class Op(kind: String, tags: Option[Seq[Int]], users: Seq[Long],
                              fresh: Seq[Seq[Int]])
  private val ops: IndexedSeq[Op] = expected("ops").asInstanceOf[Vector[Map[String, Any]]].map { o =>
    def ints(v: Any) = v.asInstanceOf[Vector[Any]].map(_.asInstanceOf[Long].toInt)
    Op(o("kind").toString, Option(o("tags")).map(ints),
      o("users").asInstanceOf[Vector[Any]].map(_.asInstanceOf[Long]),
      o("new").asInstanceOf[Vector[Any]].map(ints))
  }
  private def live = s"${ctx.work}/live"
  private var old: Map[Long, Seq[Int]] = Map.empty
  private var stats: Main.RunStats = _

  def setup(dir: String): Unit = {
    val s = Main.run(spark, cfg(s"${ctx.inputs}/today", snapshotOf(dir)), Seq("full"))
    require(s.missingAfterWrite == 0, s"the snapshot lost ${s.missingAfterWrite} users")
  }
  def startPass(p: String): Unit = Restore(p, live)
  def liveDir(p: String): String = live

  private def opAt(i: Int) = ops(i % ops.size)
  private def tagsOf(users: Seq[Long]): Map[Long, Seq[Int]] = {
    import spark.implicits._
    new SnapshotStore(spark, snapshotOf(live)).readForKeys(users.toDF("user_id")) match {
      case None => Map.empty
      case Some(df) => df.join(users.toDF("user_id"), "user_id").select("user_id", "tag_ids")
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    }
  }

  override def beforeOp(i: Int): Unit = old = tagsOf(opAt(i).users)

  def op(i: Int, traced: Boolean): Unit = {
    val o = opAt(i)
    val args = o.kind match {
      case "incremental" => Seq("incremental")
      case "subset" => Seq("full", o.tags.get.mkString("tags=", ",", ""))
      case "users" => Seq("full", o.users.mkString("users=", ",", ""))
    }
    stats = tagRun(cfg(s"${ctx.inputs}/ops/op=${i % ops.size}", snapshotOf(live)), args, traced)
  }
  def rowsPerOp(i: Int): Long = opAt(i).users.size

  def check(i: Int): Seq[String] = {
    val o = opAt(i)
    val after = tagsOf(o.users)
    val bad = o.users.zip(o.fresh).filter { case (u, fresh) =>
      val prior = old.get(u)
      val want: Option[Seq[Int]] = o.kind match {
        case "incremental" => prior.orElse(Some(fresh).filter(_.nonEmpty))
        case "subset" => if (fresh.isEmpty) prior else Some((prior.getOrElse(Nil) ++ fresh).distinct.sorted)
        case "users" => if (fresh.isEmpty) prior else Some(fresh)
      }
      after.get(u).map(_.toSeq) != want
    }
    (if (bad.isEmpty) Nil else Seq(s"${o.kind}: ${bad.size} of ${o.users.size} users hold " +
      s"wrong tags, first ${bad.head._1}: ${after.get(bad.head._1)} (before ${old.get(bad.head._1)})")) ++
      (if (stats.missingAfterWrite == 0) Nil
       else Seq(s"validateWrite: ${stats.missingAfterWrite} missing"))
  }

  override def endCheck(live: String): Seq[String] = validate(snapshotOf(live))
}
