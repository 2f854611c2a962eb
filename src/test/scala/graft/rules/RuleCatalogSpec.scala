package graft.rules

import graft.SparkSpec
import graft.merge.TagMerger
import graft.sources.SnapshotStore
import org.apache.spark.sql.functions._

class RuleCatalogSpec extends SparkSpec {

  test("catalog loads valid rules, rejects malformed ones with reasons") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1, "a", "c1", "t1", """{"conditions":[{"field":"x","operator":">","value":1}]}"""),
      (2, "b", "c1", "t2", """{"conditions":[{"field":"y","operator":"in","value":[1,2]}]}"""),
      (3, "bad", "c1", "t1", """{"conditions":[{"operator":">"}]}"""),
      // parse, but cannot compile: a scalar where [lo, hi] is due, and
      // an operator the engine does not know
      (4, "scalar_range", "c1", "t1", """{"conditions":[{"field":"x","operator":"in_range","value":5}]}"""),
      (5, "unknown_op", "c1", "t1", """{"conditions":[{"field":"x","operator":"near","value":1}]}"""))
      .toDF("tag_id", "tag_name", "tag_category", "source_table", "rule_json")
    val (entries, invalid) = RuleCatalog.fromDataFrame(df)
    assert(entries.map(_.tagRule.tagId) == Seq(1, 2))
    assert(invalid.map(_._1) == Seq(3, 4, 5) && invalid.head._2.contains("field+operator"))
    assert(invalid(1)._2.contains("expected [lo, hi]"), invalid(1)._2)
    assert(invalid(2)._2.contains("unsupported operator"), invalid(2)._2)
    assert(RuleCatalog.byTable(entries).keySet == Set("t1", "t2"))
    assert(RuleCatalog.requiredFields(entries) == Map("t1" -> Seq("x"), "t2" -> Seq("y")))
  }

  test("merge validation flags duplicate users and empty arrays") {
    val s = spark
    import s.implicits._
    val good = Seq((1L, Seq(1, 2)), (2L, Seq(3))).toDF("user_id", "tag_ids")
    assert(TagMerger.validate(good) == (0L, 0L))
    val bad = Seq((1L, Seq(1)), (1L, Seq(2)), (3L, Seq.empty[Int])).toDF("user_id", "tag_ids")
    assert(TagMerger.validate(bad) == (1L, 1L))
  }

  test("snapshot write validation finds missing keys") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_snap").toString + "/snap"
    val store = new SnapshotStore(spark, dir)
    val written = Seq((1L, "x"), (2L, "y")).toDF("user_id", "v")
    store.upsert(written)
    assert(store.validateWrite(written) == 0L)
    val notWritten = Seq((99L, "z")).toDF("user_id", "v")
    assert(store.validateWrite(notWritten) == 1L)
  }
}
