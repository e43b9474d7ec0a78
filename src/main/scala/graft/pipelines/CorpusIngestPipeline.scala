package graft.pipelines

import graft.core.Layout
import graft.stream.FileWatcher
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The engine's OWN production path for training data — the LLM-corpus
  * counterpart of the two instrument pipelines: watch a landing
  * directory for text documents and, per micro-batch,
  *
  *   1. PII-SCRUB (t15's patterns: emails → IPs → phones, fixed order);
  *   2. QUALITY-GATE on the t2 composite score (length × punctuation ×
  *      stopword-band) — cheap codegen projections, no shuffle;
  *   3. DEDUP exactly, corpus-lifetime: within-batch deterministic
  *      first-wins, then an anti-join against the persistent digest
  *      ledger (32-byte keys — the only thing that shuffles);
  *   4. APPEND accepted docs to the corpus and their digests to the
  *      ledger, both in `batch_id` partitions with dynamic overwrite, so
  *      an at-least-once replay REPLACES its own output (exactly-once
  *      table state over an at-least-once stream).
  *
  * At 100 TB the scrub/gate stages are scan-local, the ledger is a
  * digest table a fraction of corpus size, and every batch touches only
  * its own partitions — no stage rereads or rewrites history.
  */
object CorpusIngestPipeline {

  private val EmailPat = """[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"""
  private val IpPat = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  private val PhonePat = """\b\d{3}-\d{3}-\d{4}\b"""

  def scrub(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPat, "<EMAIL>"),
        IpPat, "<IP>"),
      PhonePat, "<PHONE>")

  /** The t2 composite quality score over a text column. */
  def qualityScore(text: Column): Column = {
    val n = length(text) - length(regexp_replace(text, " ", "")) + lit(1)
    val punct = length(regexp_replace(text, "[^.,!?;:]", "")).cast("double") / length(text)
    val stops = size(filter(split(text, " "),
      t => t.isin(Seq("the", "a", "and", "of", "to", "in").map(lit(_)): _*)))
    val stopRatio = stops.cast("double") / n
    least(lit(1.0), n / lit(64.0)) * (lit(1.0) - punct) *
      when(stopRatio > 0.05 && stopRatio < 0.5, lit(1.0)).otherwise(lit(0.5))
  }

  /** One micro-batch: scrub → gate → dedup → append. Visible for direct
    * batch use (backfills run the same code path as the stream).
    */
  def processBatch(spark: SparkSession, files: DataFrame, corpusDir: String,
      ledgerDir: String, batchId: Long, minQuality: Double): Unit = {
    val docs = files
      .select(col("path"), col("content").cast("string").as("raw"))
      .withColumn("text", scrub(col("raw")))
      .withColumn("quality", qualityScore(col("text")))
      .filter(col("quality") >= minQuality)
      .withColumn("content_key", sha2(col("text"), 256))
    // within-batch first-wins: deterministic winner per digest (min path),
    // so replays and repartitions keep the same row
    val firstWins = docs
      .groupBy("content_key")
      .agg(min(struct(col("path"), col("text"), col("quality"))).as("w"))
      .select(col("content_key"), col("w.path").as("path"),
        col("w.text").as("text"), col("w.quality").as("quality"))
    // batch-vs-ledger screen: the bloom-bounded anti-join moves O(|batch|)
    // bytes regardless of ledger size — the ledger is scanned with a
    // codegen probe, never shuffled (see BloomJoin.antiJoinSmallLeft)
    val ledger = existingLedger(spark, ledgerDir)
    val fresh = graft.core.BloomJoin
      .antiJoinSmallLeft(firstWins, "content_key", ledger, "content_key")
      .withColumn("batch_id", lit(batchId))
      .cache()
    try {
      Layout.overwritePartitions(
        fresh.select("content_key", "path", "text", "quality", "batch_id"),
        "batch_id", corpusDir)
      Layout.overwritePartitions(fresh.select("content_key", "batch_id"),
        "batch_id", ledgerDir)
    } finally { fresh.unpersist(); () }
  }

  /** Start the streaming ingest over `.txt` landings. */
  def start(spark: SparkSession, watchDir: String, corpusDir: String,
      ledgerDir: String, checkpoint: String, minQuality: Double = 0.2,
      drain: Boolean = false): StreamingQuery = {
    val events = FileWatcher.fileEvents(spark, watchDir, suffix = ".txt")
    FileWatcher.start(events, checkpoint, drain) { (batch, batchId) =>
      if (!batch.isEmpty)
        processBatch(spark, batch.select("path", "content"), corpusDir,
          ledgerDir, batchId, minQuality)
    }
  }

  /** Resolved through the path's own filesystem, not `java.io.File` — the
    * local-File probe reports an HDFS/S3 ledger absent on a cluster,
    * silently re-admitting every duplicate (same fix as
    * [[graft.stream.StreamingDedup]]'s ledger). Probes for COMMITTED data,
    * not bare existence: a ledger dir holding only a crashed first
    * batch's staging leftovers would otherwise fail schema inference on
    * every replay — wedging ingest ([[graft.core.DataDir]]).
    */
  private def existingLedger(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    if (graft.core.DataDir.nonEmpty(spark, dir))
      spark.read.parquet(dir).select("content_key")
    else Seq.empty[String].toDF("content_key")
  }
}
