package graft

import org.apache.spark.sql.SparkSession

/** Environment-driven runtime configuration — the counterpart of the
  * reference's config layer (reference: src/config/base.py:1-139,
  * src/config/manager.py:1-61), which wires Spark tuning, storage
  * paths, and scheduler parameters from environment variables.
  *
  * Every knob has a sane local default so `graft.Main` runs out of the
  * box against the test warehouse; on a cluster the same variables
  * carry the production values (the reference's DEV/PROD profiles are
  * just two env files).
  */
final case class GraftConfig(
    master: String,
    shufflePartitions: Int,
    dataDir: String,
    snapshotPath: String,
    rulesPath: Option[String],
    rulesJdbcUrl: Option[String],
    rulesJdbcTable: String,
    anchorDate: Option[String],
    minRowCount: Long,
    maxNullRate: Double,
    userCols: Map[String, String]) {

  /** User-id column for a source table (default `user_id`). */
  def userCol(table: String): String = userCols.getOrElse(table, "user_id")

  def session(): SparkSession = {
    val s = Sessions.builder(master, shufflePartitions).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

object GraftConfig {
  /** Read configuration from `env` (tests pass a literal map). */
  def fromEnv(env: Map[String, String] = sys.env): GraftConfig = {
    val cores = env.getOrElse("GRAFT_CORES", "4").toInt
    GraftConfig(
      master = env.getOrElse("GRAFT_MASTER", s"local[$cores]"),
      shufflePartitions = env.getOrElse("GRAFT_SHUFFLE_PARTITIONS", cores.toString).toInt,
      dataDir = env.getOrElse("GRAFT_DATA_DIR", "/root/testdata/sf0.001"),
      snapshotPath = env.getOrElse("GRAFT_SNAPSHOT", "/tmp/graft_snapshot/user_tags"),
      rulesPath = env.get("GRAFT_RULES"),
      // rules-from-database, the reference's actual rule source
      // (rule_reader pulls from MySQL); takes precedence over the
      // parquet path when set
      rulesJdbcUrl = env.get("GRAFT_RULES_JDBC_URL"),
      rulesJdbcTable = env.getOrElse("GRAFT_RULES_JDBC_TABLE", "tag_rules"),
      anchorDate = env.get("GRAFT_ANCHOR"),
      minRowCount = env.getOrElse("GRAFT_MIN_ROWS", "1").toLong,
      maxNullRate = env.getOrElse("GRAFT_MAX_NULL_RATE", "0.5").toDouble,
      userCols = parseUserCols(env.getOrElse("GRAFT_USER_COLS", "")))
  }

  /** `"customer=c_custkey,orders=o_custkey"` → map. */
  private[graft] def parseUserCols(spec: String): Map[String, String] =
    spec.split(",").iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=") match {
        case Array(t, c) => t.trim -> c.trim
        case _ => throw new IllegalArgumentException(s"bad GRAFT_USER_COLS entry: $kv")
      }
    }.toMap
}
