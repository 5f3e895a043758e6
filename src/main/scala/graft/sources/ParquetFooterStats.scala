package graft.sources

import org.apache.spark.sql.SparkSession

/** Per-file (min, max) column ranges read from parquet FOOTERS — no
  * data pages touched: the same per-file stats a transactional format
  * (Delta/Iceberg) keeps in its commit log, read from the files
  * themselves since plain parquet has no log. Used by the pruned merge
  * (EventStore.mergeSummaryPruned) to decide which files a delta
  * actually touches.
  *
  * `None` when a file carries no usable stats — zero row groups (Spark
  * writes a schema-only file for an empty DataFrame), a missing column
  * chunk, or absent/all-null statistics — and callers must treat the
  * file as a conservative HIT (rewrite it) rather than crash: stats are
  * an optimization, never a correctness dependency.
  *
  * Strict per-block: ONE stat-less row group makes the whole file's
  * range unknown (a partial range would under-cover and wrongly carry a
  * file that holds delta keys in the stat-less block).
  *
  * For string (BINARY/UTF8) columns the returned values are BOUNDS, not
  * necessarily exact extrema: parquet-mr may truncate binary stats, but
  * truncation preserves bound direction (a truncated min is a prefix,
  * hence ≤ the true min; a truncated max gets its last byte bumped,
  * hence ≥ the true max) — so intersection tests may over-hit, never
  * under-hit.
  */
object ParquetFooterStats {

  /** Parquet orders BINARY/UTF8 statistics by UNSIGNED UTF-8 bytes
    * (as does Spark's own UTF8String), which disagrees with Java's
    * UTF-16 `String.compareTo` for supplementary characters and the
    * U+E000–U+FFFF block. Every driver-side comparison against string
    * footer/manifest bounds must use THIS ordering or pruning could
    * under-cover (skip a file that holds a key). */
  val Utf8Ordering: Ordering[String] = (a: String, b: String) =>
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** (min, max) of an INT64 column across all row groups. */
  def longRange(spark: SparkSession, file: java.nio.file.Path,
                column: String): Option[(Long, Long)] =
    longRanges(spark.sessionState.newHadoopConf(), file, Seq(column)).get(column)

  /** (min, max) BOUNDS of a BINARY/UTF8 column across all row groups
    * (see object doc on truncation: bounds, not necessarily extrema). */
  def stringRange(spark: SparkSession, file: java.nio.file.Path,
                  column: String): Option[(String, String)] =
    allRanges(spark.sessionState.newHadoopConf(), file, Seq.empty, Seq(column))
      ._2.get(column)

  /** (min, max) for several columns with ONE footer open (the write-time
    * stats harvest [[TxTable]] runs per commit — per-column opens would
    * multiply the footer I/O by the column count). Only columns whose
    * parquet primitive is INT64 and whose every row group carries
    * non-null stats appear in the result (INT96 timestamps and
    * stat-less blocks are skipped, not crashed on — absent means
    * "conservative hit" to every consumer). */
  def longRanges(conf: org.apache.hadoop.conf.Configuration,
                 file: java.nio.file.Path,
                 columns: Seq[String]): Map[String, (Long, Long)] =
    allRanges(conf, file, columns, Seq.empty)._1

  /** Long AND string ranges — plus the requested columns PROVEN
    * null-free (every row group's stats carry a SET null count of 0;
    * min/max say nothing about nulls, so consumers with NULL-sensitive
    * semantics, e.g. retention's drop-by-reference, need the explicit
    * proof) — with ONE footer open (the commit-time harvest needs all
    * three; per-kind opens would multiply the footer I/O). */
  def allRanges(conf: org.apache.hadoop.conf.Configuration,
                file: java.nio.file.Path,
                longColumns: Seq[String], stringColumns: Seq[String])
      : (Map[String, (Long, Long)], Map[String, (String, String)], Seq[String]) = {
    if (longColumns.isEmpty && stringColumns.isEmpty)
      return (Map.empty, Map.empty, Seq.empty)
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = r.getFooter.getBlocks.toArray
        .map(_.asInstanceOf[org.apache.parquet.hadoop.metadata.BlockMetaData])
      if (blocks.isEmpty) return (Map.empty, Map.empty, Seq.empty)
      // Every row group's stats for column `c` with primitive `prim`,
      // or None when any block lacks usable stats (strict per-block —
      // see object doc).
      def perBlock(c: String,
                   prim: org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName)
          : Option[Seq[org.apache.parquet.column.statistics.Statistics[_]]] = {
        val found = blocks.map { b =>
          b.getColumns.toArray
            .map(_.asInstanceOf[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData])
            .find(m => m.getPath.toDotString == c &&
              m.getPrimitiveType.getPrimitiveTypeName == prim)
            .map(_.getStatistics)
            .collect { case s if s != null && !s.isEmpty && s.hasNonNullValue =>
              s.asInstanceOf[org.apache.parquet.column.statistics.Statistics[_]] }
        }
        if (found.exists(_.isEmpty)) None else Some(found.map(_.get).toSeq)
      }
      val longs = longColumns.flatMap { c =>
        perBlock(c, org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64)
          .map { stats => c -> (
            stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue()).min,
            stats.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue()).max) }
      }.toMap
      val strings = stringColumns.flatMap { c =>
        perBlock(c, org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY)
          .map { stats => c -> (
            stats.map(_.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
              .toStringUsingUTF8).min(Utf8Ordering),
            stats.map(_.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
              .toStringUsingUTF8).max(Utf8Ordering)) }
      }.toMap
      val noNulls = (longColumns ++ stringColumns).filter { c =>
        blocks.forall { b =>
          b.getColumns.toArray
            .map(_.asInstanceOf[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData])
            .find(_.getPath.toDotString == c)
            .exists { m =>
              val s = m.getStatistics
              s != null && !s.isEmpty && s.isNumNullsSet && s.getNumNulls == 0L
            }
        }
      }
      (longs, strings, noNulls)
    } finally r.close()
  }

  /** [[provenNoNulls]] verdicts, cached process-wide: data files are
    * immutable in this table format, so a (file, column) proof never
    * changes — a retention retry loop or a scheduled re-expiry must
    * not re-open the same footers. Entries are a boolean each; the
    * size bound is a leak backstop (vacuumed files leave dead keys),
    * not a working-set tuning knob. */
  private val noNullsCache =
    new java.util.concurrent.ConcurrentHashMap[(java.nio.file.Path, String), java.lang.Boolean]()
  private val MaxNoNullsEntries = 1000000

  /** TRUE only when the footer PROVES `column` has zero nulls — every
    * row group's stats present with a SET null count of 0. Unknown
    * (missing chunk, absent stats, unset count) is false: callers use
    * this as a safety proof (e.g. [[TxTable.expireBelow]]'s
    * drop-by-reference needs it because min/max stats say nothing
    * about null rows, and SQL's `col < cutoff` never matches NULL).
    * One footer open per (file, column) PROCESS-WIDE — metadata I/O,
    * no data pages, cached because files are immutable. */
  def provenNoNulls(conf: org.apache.hadoop.conf.Configuration,
                    file: java.nio.file.Path, column: String): Boolean = {
    val key = (file, column)
    val cached = noNullsCache.get(key)
    if (cached != null) return cached.booleanValue()
    val v = provenNoNullsUncached(conf, file, column)
    if (noNullsCache.size() >= MaxNoNullsEntries) noNullsCache.clear()
    noNullsCache.put(key, java.lang.Boolean.valueOf(v))
    v
  }

  /** TRUE only when the footer PROVES `column` is NULL in every row:
    * every row group's stats present with a SET null count equal to
    * its row count. Unknown (missing chunk, absent stats, unset count)
    * is false. One footer open, metadata only. */
  def provenAllNull(conf: org.apache.hadoop.conf.Configuration,
                    file: java.nio.file.Path, column: String): Boolean = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter.getBlocks.toArray
      .map(_.asInstanceOf[org.apache.parquet.hadoop.metadata.BlockMetaData])
      .forall { b =>
        b.getColumns.toArray
          .map(_.asInstanceOf[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData])
          .find(_.getPath.toDotString == column)
          .exists { m =>
            val s = m.getStatistics
            s != null && s.isNumNullsSet && s.getNumNulls == b.getRowCount
          }
      }
    finally r.close()
  }

  private def provenNoNullsUncached(conf: org.apache.hadoop.conf.Configuration,
                                    file: java.nio.file.Path, column: String): Boolean = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = r.getFooter.getBlocks.toArray
        .map(_.asInstanceOf[org.apache.parquet.hadoop.metadata.BlockMetaData])
      blocks.nonEmpty && blocks.forall { b =>
        b.getColumns.toArray
          .map(_.asInstanceOf[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData])
          .find(_.getPath.toDotString == column)
          .exists { m =>
            val s = m.getStatistics
            s != null && !s.isEmpty && s.isNumNullsSet && s.getNumNulls == 0L
          }
      }
    } finally r.close()
  }

}
