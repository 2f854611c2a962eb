package graft.rules

import graft.engine.TagRule
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit
import scala.util.{Failure, Success, Try}

/** Rules-as-data: load tag rules from a DataFrame — the reference
  * stores rules in MySQL `tag_rules` ⋈ `tag_definition` and reads them
  * with RuleReader (reference: src/readers/rule_reader.py:44-97,
  * group_rules_by_table:146-204). Any Spark-readable source works here
  * (JDBC, parquet, a literal DataFrame).
  *
  * Expected columns: `tag_id int, tag_name string, tag_category
  * string, source_table string, rule_json string`. The rules table is
  * small by construction (hundreds of rows), so a driver-side collect
  * is the right plan — the engine then compiles every rule into ONE
  * projection per source table.
  */
object RuleCatalog {

  final case class Entry(tagRule: TagRule, sourceTable: String)

  /** Parse and validate one rule JSON; Left(error) keeps bad rules
    * out of the engine without killing the batch (reference:
    * rule_reader.validate_rule_format:206-232). The rule is also
    * compiled, against a literal anchor (building a Column runs no
    * Spark job), so an unknown operator or a malformed value is caught
    * here instead of failing the whole run at the engine's compile. */
  def validate(json: String): Either[String, Rule] =
    Try { val r = RuleJson.parse(json); r.compile(lit(0)); r } match {
      case Success(r) => Right(r)
      case Failure(e) => Left(e.getMessage)
    }

  /** Load the catalog; invalid rules are returned separately rather
    * than thrown. */
  def fromDataFrame(df: DataFrame): (Seq[Entry], Seq[(Int, String)]) = {
    val rows = df.select("tag_id", "tag_name", "tag_category", "source_table", "rule_json")
      .collect()
    val parsed = rows.map { r: Row =>
      val id = r.getAs[Number]("tag_id").intValue()
      validate(r.getAs[String]("rule_json")) match {
        case Right(rule) => Right(Entry(
          TagRule(id, r.getAs[String]("tag_name"), r.getAs[String]("tag_category"), rule),
          r.getAs[String]("source_table")))
        case Left(err) => Left(id -> err)
      }
    }
    (parsed.collect { case Right(e) => e }.toSeq,
     parsed.collect { case Left(e) => e }.toSeq)
  }

  /** Rules grouped per source table — one single-pass TagEngine run
    * per table, then TagMerger.memoryMerge (the reference's
    * group_rules_by_table → compute → merge pipeline). */
  def byTable(entries: Seq[Entry]): Map[String, Seq[TagRule]] =
    entries.groupBy(_.sourceTable).view.mapValues(_.map(_.tagRule)).toMap

  /** All fields the rule set touches, per table — drives column-pruned
    * reads (reference: rule_reader.get_all_required_fields:130-144). */
  def requiredFields(entries: Seq[Entry]): Map[String, Seq[String]] =
    byTable(entries).view.mapValues(_.flatMap(_.rule.fields).distinct).toMap
}
