package graft.engine

import graft.SparkSpec
import graft.sources.SnapshotStore
import java.nio.file.Files

/** The snapshot write every tag scenario ends with (see `Main.run`):
  * an upsert keyed on `user_id` over the stored tags. The scenarios
  * themselves are specified in `graft.MainSpec`. */
class ScenariosSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore() =
    new SnapshotStore(spark, Files.createTempDirectory("snap").toString + "/user_tags")

  private def snapshotTags(store: SnapshotStore): Map[Long, Seq[Int]] =
    store.read().get.collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Seq[Int]]("tag_ids")).toMap

  test("snapshot upsert keeps untouched users and replaces matched keys") {
    val store = freshStore()
    store.overwrite(Seq((7L, Seq(9))).toDF("user_id", "tag_ids"))
    store.upsert(Seq((8L, Seq(1)), (7L, Seq(2))).toDF("user_id", "tag_ids"))
    assert(snapshotTags(store) == Map(7L -> Seq(2), 8L -> Seq(1)))
    assert(store.keys().as[Long].collect().toSet == Set(7L, 8L))
  }
}
