package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.CharVarcharUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A file index over a fixed list of `FileStatus`es — the files a lake
  * manifest names, with the lengths and modification times its lines
  * record (the Delta log's `add` action plays this part). It never
  * lists, globs or stats: planning a scan costs no file-system call.
  * No partition columns. Equality is by file set, so two scans of the
  * same files canonicalize equal and exchange reuse in self-joins
  * keeps working. */
class ManifestFileIndex(spark: SparkSession, files: Seq[FileStatus],
    dataSchema: StructType)
    extends PartitioningAwareFileIndex(spark, Map.empty, Some(dataSchema)) {
  private val paths: Seq[Path] = files.map(_.getPath)
  override def rootPaths: Seq[Path] = paths
  override def allFiles(): Seq[FileStatus] = files
  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec
  override lazy val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap(files.map(st => st.getPath -> st): _*)
  override lazy val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    files.toArray.groupBy(_.getPath.getParent)
  override def refresh(): Unit = ()
  override def equals(other: Any): Boolean = other match {
    case m: ManifestFileIndex => paths.toSet == m.paths.toSet
    case _ => false
  }
  override def hashCode(): Int = paths.toSet.hashCode()
}

object ManifestFileIndex {

  /** `files` read as parquet under `schema`: the relation
    * `spark.read.schema(schema).parquet(...)` resolves to (char/varchar
    * read as string, every column nullable), planned from the given
    * statuses instead of a data-source lookup and a listing. */
  def readParquet(spark: SparkSession, schema: StructType,
      files: Seq[FileStatus]): DataFrame = {
    val dataSchema =
      CharVarcharUtils.replaceCharVarcharWithStringInSchema(schema).asNullable
    val relation = HadoopFsRelation(
      new ManifestFileIndex(spark, files, dataSchema), new StructType(),
      dataSchema, None, new ParquetFileFormat, Map.empty)(spark)
    PlanBridge.ofRows(spark, LogicalRelation(relation))
  }
}
