package graft.engine

import graft.SparkSpec
import graft.rules._
import graft.sources.SnapshotStore
import org.apache.spark.sql.functions._
import java.nio.file.Files

class ScenariosSpec extends SparkSpec {
  import spark.implicits._

  private val rules = Seq(
    TagRule(1, "rich", "wealth", Cond("assets", ">=", 1000L)),
    TagRule(2, "fresh", "lifecycle", Cond("reg_date", "recent_days", 7)),
    TagRule(3, "verified", "compliance", Cond("kyc", "=", "ok")))

  private def users = Seq(
    (1L, 5000.0, "2024-01-09", "ok"),
    (2L, 100.0, "2024-01-01", "ok"),
    (3L, 2000.0, "2023-06-15", "no"))
    .toDF("user_id", "assets", "d", "kyc")
    .withColumn("reg_date", col("d").cast("date")).drop("d")

  private def freshStore() =
    new SnapshotStore(spark, Files.createTempDirectory("snap").toString + "/user_tags")

  private val engine = TagEngine.at("2024-01-10")

  private def snapshotTags(store: SnapshotStore): Map[Long, Seq[Int]] =
    store.read().get.collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Seq[Int]]("tag_ids")).toMap

  test("scenario 1: full users × full tags") {
    val store = freshStore()
    new Scenarios(engine, store).fullUsersFullTags(users, rules)
    assert(snapshotTags(store) == Map(1L -> Seq(1, 2, 3), 2L -> Seq(3), 3L -> Seq(1)))
  }

  test("scenario 2: specific tags merge with existing snapshot") {
    val store = freshStore()
    val s = new Scenarios(engine, store)
    s.fullUsersFullTags(users, rules)
    // recompute only tag 1; users keep their other tags
    s.fullUsersSpecificTags(users, rules, Set(1))
    assert(snapshotTags(store) == Map(1L -> Seq(1, 2, 3), 2L -> Seq(3), 3L -> Seq(1)))
  }

  test("scenario 3: incremental users only tags users absent from snapshot") {
    val store = freshStore()
    val s = new Scenarios(engine, store)
    s.specificUsersFullTags(users, rules, Seq(2L, 3L)) // pre-existing users
    val out = s.incrementalUsersFullTags(users, rules, "reg_date", 7, lit("2024-01-10").cast("date"))
    assert(out.select("user_id").as[Long].collect().toSet == Set(1L)) // only new+recent user 1
    assert(snapshotTags(store).keySet == Set(1L, 2L, 3L))
  }

  test("scenario 5/6: specific users; 6 merges with existing") {
    val store = freshStore()
    val s = new Scenarios(engine, store)
    s.specificUsersFullTags(users, rules, Seq(1L))
    assert(snapshotTags(store) == Map(1L -> Seq(1, 2, 3)))
    // scenario 6: same user, only tag 3 recomputed — union preserved
    s.specificUsersSpecificTags(users, rules, Seq(1L), Set(3))
    assert(snapshotTags(store) == Map(1L -> Seq(1, 2, 3)))
  }

  test("snapshot upsert keeps untouched users and replaces matched keys") {
    val store = freshStore()
    store.overwrite(Seq((7L, Seq(9))).toDF("user_id", "tag_ids"))
    store.upsert(Seq((8L, Seq(1)), (7L, Seq(2))).toDF("user_id", "tag_ids"))
    assert(snapshotTags(store) == Map(7L -> Seq(2), 8L -> Seq(1)))
    assert(store.keys().as[Long].collect().toSet == Set(7L, 8L))
  }

  test("a tag-subset run over users in 2 of 8 buckets opens only those buckets' files") {
    val dir = Files.createTempDirectory("snap_scoped").toString + "/user_tags"
    val store = new SnapshotStore(spark, dir, buckets = 8)
    val many = (1L to 40L).map(i => (i, i * 100.0, "2024-01-01", if (i % 2 == 0) "ok" else "no"))
      .toDF("user_id", "assets", "d", "kyc")
      .withColumn("reg_date", col("d").cast("date")).drop("d")
    val s = new Scenarios(engine, store)
    s.fullUsersFullTags(many, rules)
    val full = snapshotTags(store)
    // each key's bucket, read off the file that holds it
    val bucketOf = store.read().get.select(col("user_id"), col("_metadata.file_path")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split('/').find(_.startsWith("snap_bucket=")).get).toMap
    val two = bucketOf.values.toSeq.distinct.sorted.take(2).toSet
    val scoped = bucketOf.collect { case (u, b) if two(b) => u }.toSeq
    // every other bucket's data files move away: opening one fails the run
    val fsys = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val away = store.liveFiles.filterNot(f => two.exists(b => f.contains(s"/$b/")))
    assert(away.nonEmpty && away.size < store.liveFiles.size)
    def move(from: String, to: String) =
      assert(fsys.rename(new org.apache.hadoop.fs.Path(from), new org.apache.hadoop.fs.Path(to)))
    away.foreach(f => move(s"$dir/$f", s"$dir/$f.away"))
    try s.fullUsersSpecificTags(many.filter(col("user_id").isin(scoped: _*)), rules, Set(1))
    finally away.foreach(f => move(s"$dir/$f.away", s"$dir/$f"))
    // tag 1 recomputed over the same users: every user keeps its tags
    assert(snapshotTags(store) == full)
  }
}
