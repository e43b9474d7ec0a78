package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming deduplication (SURVEY §2 G × the dedup suite) — the arrival-
  * time counterpart of `dedup.DedupQueries.d1`: training-data pipelines
  * dedupe documents as they land, not only in batch sweeps.
  *
  * Two complementary operators:
  *   - [[withinStream]]: engine-managed state, duplicates dropped inside
  *     the watermark horizon — state stays bounded on an unbounded stream
  *     and is checkpoint-durable.
  *   - [[firstSeenSink]]: exact corpus-lifetime dedup via a persistent
  *     content-hash ledger. Per micro-batch: dedupe within the batch,
  *     anti-join the ledger (32-byte digests, never text), emit only
  *     first-seen docs, extend the ledger. Both writes land in
  *     `batch_id` partitions with dynamic overwrite, so an at-least-once
  *     replay replaces its own output instead of duplicating it. At scale
  *     the ledger is a digest-only table a fraction the corpus size; the
  *     anti-join shuffles on the digest.
  */
object StreamingDedup {

  /** Watermarked in-stream dedup on the content digest. State for a key is
    * dropped once the watermark passes it — the bounded-state trade: exact
    * within the horizon, re-admitting duplicates farther apart than
    * `watermark` (those are [[firstSeenSink]]'s job).
    */
  def withinStream(docs: DataFrame, textCol: String, tsCol: String,
      watermark: String = "10 minutes"): DataFrame =
    docs.withColumn("content_key", sha2(col(textCol), 256))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_key")

  /** Corpus-lifetime first-seen filter backed by a digest ledger. Emits
    * each distinct text's first arrival to `outDir`; `ledgerDir` holds
    * (content_key, batch_id) and grows by digests only.
    */
  def firstSeenSink(docs: DataFrame, textCol: String, ledgerDir: String,
      outDir: String, checkpoint: String, drain: Boolean = false): StreamingQuery = {
    val writer = docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val keyed = batch
          .withColumn("content_key", sha2(col(textCol), 256))
          .dropDuplicates("content_key")
        val ledger = existingLedger(spark, ledgerDir)
        // bloom-bounded screen: the ledger is probed at its scan, never
        // shuffled — exchanged bytes stay O(|batch|) as the ledger grows
        val fresh = graft.core.BloomJoin
          .antiJoinSmallLeft(keyed, "content_key", ledger, "content_key")
          .withColumn("batch_id", lit(batchId))
          .cache()
        try {
          graft.core.Layout.overwritePartitions(fresh, "batch_id", outDir)
          graft.core.Layout.overwritePartitions(
            fresh.select("content_key", "batch_id"), "batch_id", ledgerDir)
        } finally fresh.unpersist()
        ()
      }
    (if (drain) writer.trigger(
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else writer).start()
  }

  /** The ledger probe must resolve through the path's OWN filesystem — a
    * `java.io.File` check against an HDFS/S3 ledger dir always reports
    * absent on a cluster, silently re-admitting every duplicate the ledger
    * exists to block. It probes for COMMITTED data, not bare existence: a
    * ledger dir holding only a crashed first batch's staging leftovers
    * would otherwise fail schema inference on every replay — wedging the
    * stream ([[graft.core.DataDir]]).
    */
  private def existingLedger(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    if (graft.core.DataDir.nonEmpty(spark, dir))
      spark.read.parquet(dir).select("content_key")
    else Seq.empty[String].toDF("content_key")
  }
}
