package graft.engine

import graft.rules.Rule
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A tag definition + its rule — the join of the reference's
  * `tag_definition` and `tag_rules` tables (reference:
  * src/readers/rule_reader.py:48-61). */
final case class TagRule(tagId: Int, tagName: String, tagCategory: String, rule: Rule)

/** Tag computation engine.
  *
  * The reference evaluates rules one at a time: per rule it filters the
  * dataset, counts it (an eager action!), unions N per-tag DataFrames
  * and re-aggregates (reference: src/engine/tag_computer.py:22-97,
  * parallel_tag_engine.py:53-97) — N scans + N shuffles for N tags.
  *
  * Spark-first re-design: compile every rule to a `when()` expression
  * and evaluate ALL of them in a single projection over ONE scan. Per
  * row we emit the array of hit tag ids directly — no union, no
  * dedup-shuffle, no per-rule action; the whole rule set stays inside
  * one WholeStageCodegen stage. At 100 TB this is the difference
  * between N passes over the fact table and one.
  *
  * Input contract: `df` has one row per user (pre-aggregate behavioral
  * tables first); `userCol` identifies the user. The six batch
  * scenarios that drive it are [[graft.Main.run]]'s arguments.
  */
final class TagEngine(anchor: Column = current_date()) {

  /** `(user_id, tag_ids)` — sorted distinct int array, users with ≥1 tag.
    * One scan, zero shuffles. */
  def tagProfiles(df: DataFrame, rules: Seq[TagRule], userCol: String = "user_id"): DataFrame =
    df.select(col(userCol).as("user_id"), hitArray(rules).as("tag_ids"))
      .filter(size(col("tag_ids")) > 0)

  /** Exploded `(user_id, tag_id)` form — the reference's per-tag result
    * shape (tag_computer.py:67) for all tags at once. */
  def tagAssignments(df: DataFrame, rules: Seq[TagRule], userCol: String = "user_id"): DataFrame =
    df.select(col(userCol).as("user_id"), explode(hitArray(rules)).as("tag_id"))

  /** Full reference output shape: `(user_id, tag_ids, tag_details,
    * computed_date)` where tag_details is the JSON map
    * `tag_id → {tag_name, tag_category}` (parallel_tag_engine.py:143-168).
    * Built with native `to_json` — the reference round-trips through a
    * Python UDF per row. */
  def tagDetails(df: DataFrame, rules: Seq[TagRule], userCol: String = "user_id"): DataFrame = {
    val sorted = rules.sortBy(_.tagId)
    val infos = array_compact(array(sorted.map { r =>
      when(r.rule.compile(anchor),
        struct(lit(r.tagId).cast("string").as("key"),
               struct(lit(r.tagName).as("tag_name"),
                      lit(r.tagCategory).as("tag_category")).as("value")))
    }: _*))
    df.select(
        col(userCol).as("user_id"),
        hitArray(sorted).as("tag_ids"),
        to_json(map_from_entries(infos)).as("tag_details"),
        to_date(anchor).as("computed_date"))
      .filter(size(col("tag_ids")) > 0)
  }

  /** Reference-compatible single-tag compute (tag_computer.py:22-71):
    * `(user_id, tag_id, tag_detail)` with a JSON detail carrying the
    * first hit-field value. Provided for per-tag workflows; prefer
    * [[tagProfiles]] for multi-tag runs. */
  def computeSingleTag(df: DataFrame, rule: TagRule, userCol: String = "user_id"): DataFrame = {
    val hitField = rule.rule.fields.headOption.filter(df.columns.contains)
    val hitValue = hitField.map(f => col(f).cast("string")).getOrElse(lit(""))
    df.filter(rule.rule.compile(anchor))
      .select(
        col(userCol).as("user_id"),
        lit(rule.tagId).as("tag_id"),
        to_json(struct(
          coalesce(hitValue, lit("")).as("value"),
          lit(s"满足标签规则: ${rule.tagName}").as("reason"),
          lit("AUTO").as("source"),
          lit(rule.tagName).as("tag_name"))).as("tag_detail"))
  }

  /** The single-projection heart: array of hit tag ids (sorted,
    * distinct-by-construction since each rule contributes once). */
  private[graft] def hitArray(rules: Seq[TagRule]): Column =
    // array_sort stays although a profiler points at it: ArraySort is
    // a CodegenFallback, interpreted per row and keeping the explode
    // stage out of whole-stage codegen (136 of 664 executor samples of
    // a 10k-user × 200-rule full re-tag on a 4-core VM). Sorting the
    // rules by tag id and dropping the sort (and memoryMerge's
    // sort_array) was SLOWER on that run in 3 of 3 pairs (op p50
    // 8.51→8.66, 6.57→8.20, 6.12→6.36 s). Not diagnosed; one candidate
    // is the 200-rule projection compiling into one oversized generated
    // method once the fallback no longer splits it.
    array_sort(array_compact(array(rules.map { r =>
      when(r.rule.compile(anchor), lit(r.tagId))
    }: _*)))
}

object TagEngine {
  /** Engine with a pinned anchor date (determinism in tests/backfills). */
  def at(anchorDate: String): TagEngine = new TagEngine(lit(anchorDate).cast("date"))
}
