package graft.pipelines

import graft.catalog.Catalog
import graft.core.Layout
import graft.signals.Signals
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The reference's production pipeline, end to end (SURVEY §3.1,
  * /root/reference/examples/hyperspectral_flow/main.py): watch a directory,
  * per new file run the hyperspectral analysis, write sidecar artifacts,
  * and publish a checksummed DataCite document to the catalog. Five network
  * hops (watch → Transfer → funcX tool → Publish → Search) collapse into
  * one Structured Streaming job with intra-cluster shuffles.
  *
  * The EMD→signal-rows parse is pluggable (`parse`): production passes
  * [[graft.sources.Emd.parseFiles]], tests inject a fixture parser
  * (FIXTURES F1). Everything downstream — reductions, normalization,
  * catalog — is the real engine.
  */
object HyperspectralPipeline {

  /** Per-batch analysis: signals → spectrum + intensity map + metadata,
    * written as parquet next to `outDir`, then catalog publish.
    * Runs inside `foreachBatch`, so each stage is a normal batch plan with
    * full Catalyst optimization.
    *
    * One pass per attempt: `signals` (the parsed frame) is cached, so the
    * four consumers — spectrum, intensity and metadata sinks and the PNG
    * artifacts — parse each file once, and the intensity map the intensity
    * sink and the artifacts share is cached too. Each cube is reduced
    * inside its row ([[Signals.spectrumArray]], [[Signals.intensityArray]],
    * the reference's in-memory `hs_image.sum(axis=…)`, hyperspectral.py:96,
    * 104): no explode and no aggregate shuffle. Both caches are released
    * when the attempt ends, failed or not.
    *
    * The 3-D signal is selected PER experiment (hs.load is per file,
    * hyperspectral.py:51-66) — a batch can carry many files (startup
    * backlog with no maxFilesPerTrigger), and a global first-match would
    * analyze one file while checkpointing all of them as seen.
    *
    * Side outputs are idempotent under foreachBatch's at-least-once
    * replay: each write lands in a `batch_id=<id>` partition with dynamic
    * partition overwrite, so a replayed batch replaces its own partition
    * instead of appending duplicates (Catalog.publish is already
    * idempotent by content key).
    */
  def analyzeBatch(spark: SparkSession, signals: DataFrame, files: DataFrame,
      outDir: String, catalogPath: String, batchId: Long = 0L): Unit = {
    def sink(df: DataFrame, path: String): Unit =
      Layout.overwritePartitions(df.withColumn("batch_id", lit(batchId)),
        "batch_id", path)

    val parsed = signals.cache()
    try {
      val cube = Signals.firstWithNdimPerExperiment(parsed, 3)
      sink(Signals.spectrumArray(cube), s"$outDir/spectrum")
      val intensity = Signals.intensityArray(cube).cache()
      try {
        sink(intensity, s"$outDir/intensity")
        sink(Signals.metadataSummary(parsed), s"$outDir/metadata")
        // sidecar image artifact (hyperspectral.py:106-107): batch-scoped so
        // a replay — in particular the quarantine retry, which analyzes
        // fewer files than the failed attempt — fully replaces the batch's
        // artifact set instead of leaving orphans from later-quarantined rows
        graft.sinks.Artifacts.writeBatch(
          graft.sinks.Artifacts.intensityPngs(intensity), s"$outDir/artifacts",
          batchId)
      } finally intensity.unpersist()
    } finally parsed.unpersist()

    val docs = Catalog.dataciteDoc(
      files.select(col("path"), col("content"),
        lit("{}").as("metadata_json")))
    Catalog.publish(spark, docs, catalogPath)
  }

  /** Start the streaming pipeline. `parse(files)` maps raw file rows
    * (path, content, experiment_id) to signal rows (FIXTURES F1 schema).
    *
    * Poison-pill handling: without `quarantineDir` a file whose parse
    * fails kills the batch, the batch never commits, and a restart
    * re-reads the SAME file — an infinite crash loop (the exactly-once
    * gate only advances past a file when its batch succeeds). With
    * `quarantineDir` set, a failed batch is bisected per file on the
    * driver (zero cost on the happy path — the probe only runs after a
    * failure, and a micro-batch carries at most a file-arrival cadence of
    * files): data-borne failures land in `quarantineDir` as
    * (path, error, batch_id) rows with the same idempotent
    * partition-overwrite shape as the analysis sinks, the surviving files
    * are analyzed normally, and the batch COMMITS — one corrupt upload
    * costs one batch retry instead of the pipeline. A failure the bisect
    * cannot attribute to any file (every per-file probe succeeds — an
    * infrastructure error, not a data error) rethrows, keeping fail-fast
    * for the cases where retrying is correct. This is the reference's
    * per-file task-failure model (one funcX task dies, the service
    * survives) re-expressed for the batched stream.
    */
  def start(spark: SparkSession, watchDir: String, outDir: String,
      catalogPath: String, checkpoint: String,
      parse: DataFrame => DataFrame, drain: Boolean = false,
      quarantineDir: Option[String] = None): StreamingQuery =
    Quarantine.watch(spark, watchDir, checkpoint, parse, drain,
      quarantineDir) { (fs, batchId) =>
      analyzeBatch(spark, parse(fs), fs, outDir, catalogPath, batchId)
    }

}
