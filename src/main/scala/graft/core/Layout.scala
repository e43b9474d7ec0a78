package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical data-layout utilities — the write-side half of scan
  * performance at 100 TB. Parquet pruning works on per-file/row-group
  * min-max statistics, and those statistics only prune when the writer
  * CLUSTERED the data: a key-range filter over randomly-laid-out files
  * reads everything, the same filter over range-laid-out files reads one
  * file per touched range.
  */
object Layout {

  /** Write `df` range-clustered on `keyCol`: rows range-partition into
    * `nFiles` contiguous key ranges (sampled split points — Spark's
    * `RangePartitioner`) and sort within each partition, so every output
    * file covers a key interval DISJOINT from every other file. A
    * `keyCol BETWEEN a AND b` scan then prunes to the overlapping files
    * via footer statistics alone.
    */
  def writeRangeLayout(df: DataFrame, keyCol: String, nFiles: Int,
      path: String): Unit =
    df.repartitionByRange(nFiles, col(keyCol))
      .sortWithinPartitions(keyCol)
      .write.mode("overwrite").parquet(path)

  /** Write `df` Z-ORDER clustered on TWO numeric columns: each coordinate
    * is min-max normalized to 31 bits (one tiny aggregate for the bounds),
    * the pair interleaves into a Morton key
    * ([[graft.expressions.GraftExpressions.zorder]], codegen), and rows
    * range-partition + sort by that key. Where a single-key range layout
    * makes every file span the FULL domain of the second column (filters
    * on it prune nothing), the space-filling curve gives every file a
    * bounded min-max rectangle in BOTH dimensions — footer statistics then
    * prune selective filters on either column, the same layout contract as
    * Delta/Iceberg `ZORDER BY`. The curve key is dropped before writing.
    */
  def writeZOrdered(df: DataFrame, colX: String, colY: String, nFiles: Int,
      path: String): Unit = {
    val b = df.agg(
      min(col(colX).cast("double")), max(col(colX).cast("double")),
      min(col(colY).cast("double")), max(col(colY).cast("double"))).head()
    // an empty (or all-null-key) input has no bounds: getDouble would NPE
    // on the null aggregates — write the empty table as-is, which is what
    // a layout rewrite of nothing means
    if (b.isNullAt(0) || b.isNullAt(2)) {
      df.write.mode("overwrite").parquet(path)
      return
    }
    val (minX, maxX, minY, maxY) =
      (b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3))
    val bits = (1L << 31) - 1
    def norm(c: String, lo: Double, hi: Double) =
      if (hi == lo) lit(0L)
      else floor((col(c).cast("double") - lit(lo)) / lit(hi - lo) * lit(bits.toDouble))
        .cast("long")
    val z = graft.expressions.GraftExpressions.zorder(
      norm(colX, minX, maxX), norm(colY, minY, maxY))
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Compact a directory of (typically many small) parquet files into
    * ~`targetFileBytes` outputs — the maintenance pass every long-lived
    * ingest needs: streaming sinks and per-batch writers accrete small
    * files, and at scale file-open overhead dominates scans of such
    * tables. Output file count is computed from the INPUT's on-disk bytes
    * (compressed), so the compaction is a single narrow-when-shrinking
    * repartition + rewrite. Returns (filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    // Hadoop FS, not java.io — the same call works on HDFS/S3/local
    def parquetFiles(p: String): Seq[org.apache.hadoop.fs.FileStatus] = {
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(path)) Seq.empty
      else fs.listStatus(path).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    }
    val parts = parquetFiles(inPath)
    val totalBytes = parts.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    spark.read.parquet(inPath)
      .repartition(nOut)
      .write.mode("overwrite").parquet(outPath)
    (parts.length, parquetFiles(outPath).length)
  }

  /** DYNAMIC partition overwrite — the idempotent daily-reprocess write:
    * `df` (hive-partitioned on `partCol`) replaces ONLY the partition
    * directories it contains rows for; every other partition's files stay
    * untouched on disk (byte-identical — LayoutSpec asserts it). This is
    * the batch-pipeline contract "re-running day X rewrites day X and
    * nothing else": with the default STATIC overwrite the same statement
    * deletes the whole table first, which at 100 TB converts a one-day
    * reprocess into a full-corpus rewrite (and a window where readers see
    * an empty table). Scoped via the writer option, not session config,
    * so concurrent writes elsewhere keep their own semantics. Every
    * `batch_id`-partitioned streaming sink writes through this, so an
    * at-least-once `foreachBatch` replay replaces its own partition.
    */
  def overwritePartitions(df: DataFrame, partCol: String, path: String): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol)
      .parquet(path)
}
