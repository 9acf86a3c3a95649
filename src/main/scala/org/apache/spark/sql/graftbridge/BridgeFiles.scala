package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitionPath,
  PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** File-source plumbing for stores that keep their own file list
  * (`private[sql]` file-index and relation classes, hence this package). */
object BridgeFiles {

  /** Listing-cache control for scale measurements: Spark caches partition
    * file listings per session (FileStatusCache), so a second open() of
    * the same store path reads the cache, not the filesystem — resetting
    * it is the only way to measure COLD partition discovery twice in one
    * JVM (ScaleIndexUpsert leg 6). Test/measurement seam only. */
  def resetFileStatusCache(): Unit = FileStatusCache.resetForTesting()

  /** A parquet frame over exactly the given `cluster_id=` partition dirs
    * and their files, planned like `spark.read.parquet(root)` (one
    * `HadoopFsRelation`, partition pruning, `cluster_id` a column) but
    * with no listing and no schema inference: the schema is `schema`
    * (data fields, then the partition field `partField`), and the file
    * index's leaf-file cache is seeded with `parts`, so its
    * `listLeafFiles` finds every dir cached and touches no filesystem. */
  def partitionedParquet(spark: SparkSession, schema: StructType,
      partField: String, parts: Seq[(Path, Any, Array[FileStatus])])
      : DataFrame = {
    val partSchema = StructType(Seq(schema(partField)))
    val dataSchema = StructType(schema.filterNot(_.name == partField))
    val leaves = parts.map { case (dir, _, files) => dir -> files }.toMap
    val seeded = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        leaves.get(path)
      override def putLeafFiles(path: Path, files: Array[FileStatus])
          : Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val spec = PartitionSpec(partSchema, parts.map { case (dir, v, _) =>
      PartitionPath(InternalRow(v), dir) })
    val index = new InMemoryFileIndex(spark, parts.map(_._1), Map.empty,
      Some(schema), seeded, Some(spec))
    Bridge.ofRows(spark, LogicalRelation(HadoopFsRelation(index, partSchema,
      dataSchema, None, new ParquetFileFormat, Map.empty)(spark)))
  }

  /** The data schema `spark.read.parquet` infers from `file`: its footer
    * read on the driver (the Spark schema stored there, or the parquet
    * schema converted), with every field nullable, as the file source
    * reads it. */
  def parquetFileSchema(spark: SparkSession, file: Path): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      conf, file, org.apache.parquet.format.converter.ParquetMetadataConverter
        .NO_FILTER)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file, footer),
      new ParquetToSparkSchemaConverter(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          .sessionState.conf)).asNullable
  }
}
