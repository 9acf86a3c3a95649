package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.SparkSession

/** The stores' small tables (centroids, routing level) read on the
  * driver straight off their parquet files with parquet-hadoop's record
  * reader: no Spark job, no schema inference. Only for tables that fit
  * the driver by contract (one row per shard or per routing group). */
private[graft] object DriverParquet {

  /** A data file of a Spark-written parquet dir: not `_SUCCESS`, not a
    * hidden checksum file. */
  def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** Every record of the parquet table at `dir`, decoded by `decode`. */
  def rows[T](spark: SparkSession, dir: String)(decode: Group => T): Seq[T] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    p.getFileSystem(conf).listStatus(p)
      .filter(f => f.isFile && isDataFile(f.getPath.getName))
      .toSeq.flatMap { f =>
        val reader = ParquetReader.builder(new GroupReadSupport(), f.getPath)
          .withConf(conf).build()
        try Iterator.continually(reader.read()).takeWhile(_ != null)
          .map(decode).toVector
        finally reader.close()
      }
  }

  /** An (id, vec) table — centroids, routing level 1 — ascending by id.
    * `vec` is Spark's `array<double>`: a LIST group whose repeated
    * field holds one element each. */
  def vectors(spark: SparkSession, dir: String)
      : IndexedSeq[(Long, Seq[Double])] =
    rows(spark, dir) { g =>
      val list = g.getGroup("vec", 0)
      g.getLong("id", 0) -> IndexedSeq.tabulate(
        list.getFieldRepetitionCount(0))(i => list.getGroup(0, i).getDouble(0, 0))
    }.toIndexedSeq.sortBy(_._1)

  /** A (key, value) table of two long columns — `routing_groups`. */
  def longPairs(spark: SparkSession, dir: String, key: String,
                value: String): Map[Long, Long] =
    rows(spark, dir)(g => g.getLong(key, 0) -> g.getLong(value, 0)).toMap
}
