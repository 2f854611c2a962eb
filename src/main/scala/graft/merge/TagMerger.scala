package graft.merge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tag merging — the Spark-native counterpart of the reference's
  * `TagMerger` / `AdvancedTagMerger` / `UnifiedTagMerger`
  * (reference: src/merger/tag_merger.py, advanced_tag_merger.py).
  *
  * The reference merges arrays with a Python UDF (`sorted(set(a+b))`,
  * advanced_tag_merger.py:126-142) — per-row ser/de. Here every merge
  * is native `array_union`/`array_distinct`/`array_sort`, fully
  * codegen'd; the only shuffles are the per-user aggregation and the
  * user-keyed join, both on `user_id` so AQE can coalesce/skew-split.
  */
object TagMerger {

  /** Memory merge (advanced_tag_merger.py:211-246): union per-tag
    * assignment frames `(user_id, tag_id)`, dedup, aggregate to a
    * sorted distinct array per user. Arrays are bounded by #rules, so
    * `collect_set` is safe at any data scale. */
  def memoryMerge(assignments: Seq[DataFrame]): DataFrame = {
    require(assignments.nonEmpty, "no tag results to merge")
    assignments.reduce(_.unionByName(_))
      .groupBy("user_id")
      .agg(array_sort(collect_set(col("tag_id"))).as("tag_ids"))
  }

  /** Merge new per-user tag arrays with an existing snapshot
    * (advanced_tag_merger.py:20-92): LEFT join — only users present in
    * the new batch are produced (the snapshot writer's upsert keeps
    * untouched users). `sorted(set(old ∪ new))` per user. */
  def mergeWithExisting(newTags: DataFrame, existing: DataFrame): DataFrame = {
    val e = existing.select(col("user_id"), col("tag_ids").as("existing_tag_ids"))
    newTags.join(e, Seq("user_id"), "left")
      .withColumn("tag_ids",
        array_sort(array_union(
          coalesce(col("existing_tag_ids"), array().cast("array<int>")),
          col("tag_ids"))))
      .drop("existing_tag_ids")
  }

  /** Merge-result validation (tag_merger.py:253-287): structurally
    * sound = one row per user, no null/empty tag arrays. Returns the
    * offending counts so callers can alert instead of throwing. */
  def validate(userTags: DataFrame): (Long, Long) = {
    val dupUsers = userTags.groupBy("user_id").count()
      .filter(col("count") > 1).count()
    val badRows = userTags
      .filter(col("tag_ids").isNull || size(col("tag_ids")) === 0).count()
    (dupUsers, badRows)
  }

  /** Coverage statistics (tag_merger.py:289-326) — one aggregation, no
    * driver-side collect of per-user rows. */
  def statistics(userTags: DataFrame): DataFrame =
    userTags.agg(
      count(lit(1)).as("total_users"),
      sum(size(col("tag_ids")).cast("long")).as("total_tag_assignments"),
      round(avg(size(col("tag_ids"))), 2).as("avg_tags_per_user"),
      max(size(col("tag_ids"))).as("max_tags_per_user"),
      min(size(col("tag_ids"))).as("min_tags_per_user"))
}
