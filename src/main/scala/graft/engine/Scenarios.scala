package graft.engine

import graft.merge.TagMerger
import graft.sources.SnapshotStore
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's six batch scheduling scenarios (reference:
  * src/scheduler/scenario_scheduler.py:118-470):
  *
  *   1. full users × full tags        — compute, upsert (no existing-merge)
  *   2. full users × specific tags    — compute, merge w/ existing, upsert
  *   3. incremental users × full tags — detect new users, compute, upsert
  *   4. incremental users × specific tags
  *   5. specific users × full tags
  *   6. specific users × specific tags — compute, merge w/ existing, upsert
  *
  * Each scenario is a pure DataFrame pipeline: scoping users is a
  * filter/anti-join, scoping tags is picking a rule subset — then one
  * single-pass TagEngine call, an optional snapshot merge, one upsert.
  */
final class Scenarios(engine: TagEngine, store: SnapshotStore) {

  /** Materialize a result whose lineage may reference the current
    * snapshot files, then upsert. The checkpoint cuts the lineage so
    * the returned DataFrame stays valid after the snapshot swap (and
    * avoids recomputing the whole pipeline when the caller reuses it). */
  private def commit(result: DataFrame): DataFrame = {
    val snap = result.localCheckpoint()
    store.upsert(snap)
    snap
  }

  /** Scenario 1 — full users, full tags. */
  def fullUsersFullTags(users: DataFrame, rules: Seq[TagRule]): DataFrame =
    commit(engine.tagDetails(users, rules))

  /** Scenario 2 — full users, a tag subset; merged with the snapshot so
    * tags outside the subset are preserved (scenario_scheduler.py:184-241). */
  def fullUsersSpecificTags(users: DataFrame, rules: Seq[TagRule], tagIds: Set[Int]): DataFrame = {
    val subset = rules.filter(r => tagIds.contains(r.tagId))
    commit(mergeWithSnapshot(engine.tagDetails(users, subset)))
  }

  /** Scenario 3 — users new since `daysBack` before the anchor that are
    * absent from the snapshot (left_anti, scenario_scheduler.py:487-512),
    * full tags. New users need no existing-merge. */
  def incrementalUsersFullTags(users: DataFrame, rules: Seq[TagRule],
                               regDateCol: String, daysBack: Int, anchor: Column): DataFrame = {
    val scoped = users.filter(col(regDateCol) >= date_sub(anchor, daysBack))
    // keysFor opens only the buckets these users hash into; keys of
    // other buckets could not match, so the anti-join is unchanged
    val fresh = scoped.join(store.keysFor(scoped), Seq("user_id"), "left_anti")
    commit(engine.tagDetails(fresh, rules))
  }

  /** Scenario 4 — incremental users, tag subset. */
  def incrementalUsersSpecificTags(users: DataFrame, rules: Seq[TagRule], tagIds: Set[Int],
                                   regDateCol: String, daysBack: Int, anchor: Column): DataFrame =
    incrementalUsersFullTags(users, rules.filter(r => tagIds.contains(r.tagId)),
      regDateCol, daysBack, anchor)

  /** Scenario 5 — an explicit user list, full tags. At scale a large
    * user list should be a broadcast semi-join, not an `isin` literal —
    * both signatures provided. */
  def specificUsersFullTags(users: DataFrame, rules: Seq[TagRule], userIds: Seq[Long]): DataFrame =
    commit(engine.tagDetails(users.filter(col("user_id").isin(userIds: _*)), rules))

  def specificUsersFullTags(users: DataFrame, rules: Seq[TagRule], userIds: DataFrame): DataFrame = {
    val scoped = users.join(broadcast(userIds.select("user_id")), Seq("user_id"), "left_semi")
    commit(engine.tagDetails(scoped, rules))
  }

  /** Scenario 6 — specific users × specific tags, merged with snapshot. */
  def specificUsersSpecificTags(users: DataFrame, rules: Seq[TagRule],
                                userIds: Seq[Long], tagIds: Set[Int]): DataFrame = {
    val subset = rules.filter(r => tagIds.contains(r.tagId))
    val scoped = users.filter(col("user_id").isin(userIds: _*))
    commit(mergeWithSnapshot(engine.tagDetails(scoped, subset)))
  }

  /** Merge with the stored tags of `newTags`' users. Only their buckets
    * are read (the merge left-joins from `newTags`, so other users'
    * rows could never match); `newTags` is checkpointed first so the
    * bucket probe and the merge share one evaluation of the engine. */
  private def mergeWithSnapshot(newTags: DataFrame): DataFrame = {
    val tags = newTags.localCheckpoint()
    store.readForKeys(tags) match {
      case Some(existing) =>
        TagMerger.mergeWithExisting(tags, existing)
          .select(tags.columns.map(col): _*)
      case None => tags
    }
  }
}
