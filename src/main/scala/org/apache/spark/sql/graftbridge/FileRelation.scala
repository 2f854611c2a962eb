package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** A parquet relation over files whose statuses and schemas the caller
  * already knows — `spark.read.option("mergeSchema", "true").parquet`
  * without its two discovery jobs: the per-file listing (a Spark job
  * whenever more than 32 paths are named) and the footer-merge job.
  * `StructType.merge` / `asNullable` are `private[spark]`, hence the
  * residency in the sql package. */
object FileRelation {

  /** The schema a `mergeSchema` read infers from files carrying these
    * footer schemas: Spark folds the footers in file-path order with
    * `StructType.merge` (session case sensitivity), and every file
    * source reads its data columns as nullable. */
  def mergeSchemas(spark: SparkSession, schemas: Seq[StructType]): StructType = {
    val caseSensitive = spark.conf.get(SQLConf.CASE_SENSITIVE.key).toBoolean
    schemas.reduce(_.merge(_, caseSensitive)).asNullable
  }

  /** Read `files` (qualified paths, real sizes) as one parquet relation
    * with `dataSchema`. The file index is served from the given
    * statuses, so building the DataFrame touches no file system; no
    * partition columns are inferred, as with explicit file paths. */
  def parquet(spark: SparkSession, files: Seq[FileStatus], dataSchema: StructType): DataFrame = {
    val statuses = files.map(f => f.getPath -> f).toMap
    val known = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] = statuses.get(p).map(Array(_))
      override def putLeafFiles(p: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, files.map(_.getPath), Map.empty, None, known,
      Some(PartitionSpec.emptySpec))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(), dataSchema,
      None, new ParquetFileFormat, Map.empty)(spark))
  }
}
