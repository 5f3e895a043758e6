package graft.sources

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType

/** A read of a few small parquet files run on the DRIVER, returned as a
  * `LocalRelation` — the serving shape of a point lookup whose files the
  * manifest has already picked out. Row filters over the result and an
  * action such as `filter(...).limit(1).collect()` fold in Catalyst's
  * `ConvertToLocalRelation` and start no Spark job, where a scan of the
  * same files costs one job's dispatch.
  *
  * Rows come from Spark's own Parquet reader (`buildReaderWithPartitionValues`,
  * row-returning), so their types are exactly those the distributed scan
  * produces. Every row of the files is held, so callers keep the total
  * small ([[TxTable.DriverLookupBytes]]). */
private[sources] object DriverScan {

  /** A built reader and the configuration it was built under. Building
    * one broadcasts the Hadoop conf (about half a small read's driver
    * time), so readers are reused per session and schema, and rebuilt
    * when either conf they were built from has changed. */
  private final case class Reader(sqlConf: Map[String, String],
                                  hadoopConf: Map[String, String],
                                  read: PartitionedFile => Iterator[InternalRow])

  // Weak keys: a session's readers go with it.
  private val readers =
    new java.util.WeakHashMap[SparkSession, java.util.HashMap[StructType, Reader]]()

  private[sources] def reader(spark: SparkSession, schema: StructType)
      : PartitionedFile => Iterator[InternalRow] = {
    val sqlConf = spark.sessionState.conf.getAllConfs
    val hadoopConf = spark.sparkContext.hadoopConfiguration.iterator().asScala
      .map(e => e.getKey -> e.getValue).toMap
    readers.synchronized {
      val perSchema = readers.computeIfAbsent(spark, _ => new java.util.HashMap())
      val cached = perSchema.get(schema)
      if (cached != null && cached.sqlConf == sqlConf && cached.hadoopConf == hadoopConf)
        cached.read
      else {
        val read = new ParquetFileFormat().buildReaderWithPartitionValues(
          spark, schema, new StructType(), schema, Nil,
          Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
          spark.sessionState.newHadoopConf())
        perSchema.put(schema, Reader(sqlConf, hadoopConf, read))
        read
      }
    }
  }

  /** Every row of `files` (each with its size on disk) as a local
    * relation of `dataSchema`. Every column comes out nullable, as from
    * a file scan. */
  def read(spark: SparkSession, dataSchema: StructType, files: Seq[(Path, Long)]): DataFrame = {
    val schema = dataSchema.toNullable
    val rows = if (files.isEmpty) Vector.empty[InternalRow] else {
      val read = reader(spark, schema)
      val toUnsafe = UnsafeProjection.create(schema)
      files.flatMap { case (p, size) =>
        val it = read(PartitionedFile(InternalRow.empty,
          SparkPath.fromPath(new HPath(p.toUri)), 0L, size, fileSize = size))
        try it.map(r => toUnsafe(r).copy()).toVector
        finally it match { case c: java.io.Closeable => c.close(); case _ => () }
      }
    }
    Bridge.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))
  }
}
