package graft.pipelines

import graft.catalog.Catalog
import graft.core.Layout
import graft.multimodal.{ConvPoolModel, Inference, Media, MediaMeta, Multimodal}
import graft.signals.Signals
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The reference's second production pipeline (SURVEY §3.1 variant,
  * /root/reference/examples/spatiotemporal_flow/main.py +
  * picoprobe/tools/temporal.py): watch → per new video file, normalize each
  * frame to uint8 (C12+E4), encode frames as real PNGs and run batched
  * model inference over them (the YOLO stage, kept pluggable per SURVEY
  * §2 H — the bundled model is the fixed-weight conv head in
  * [[graft.multimodal.Inference]]), write artifacts, publish to the
  * catalog.
  */
object SpatiotemporalPipeline {

  /** Per-batch analysis over video signals ((T,X,Y) cubes in F1 layout).
    * Signal selection is per experiment and side outputs are idempotent
    * batch_id-partition overwrites — see HyperspectralPipeline.analyzeBatch
    * for the rationale (multi-file batches; at-least-once replay).
    */
  def analyzeBatch(spark: SparkSession, signals: DataFrame, files: DataFrame,
      outDir: String, catalogPath: String,
      infer: Dataset[Media] => DataFrame, batchId: Long = 0L): Unit = {
    def sink(df: DataFrame, path: String): Unit =
      Layout.overwritePartitions(df.withColumn("batch_id", lit(batchId)),
        "batch_id", path)

    val video = Signals.explodeVideo(Signals.firstWithNdimPerExperiment(signals, 3))
    val framesU8 = Signals.normalizeFrames(video)
    sink(framesU8, s"$outDir/frames_u8")
    // sidecar video artifact (temporal.py:26-35): batch-scoped so a replay
    // (notably the quarantine retry, which analyzes fewer files) fully
    // replaces the batch's artifact set — no orphans from quarantined rows
    graft.sinks.Artifacts.writeBatch(
      graft.sinks.Artifacts.videoArtifacts(framesU8), s"$outDir/artifacts",
      batchId)

    // inference input: the normalized frames as REAL grayscale PNGs (the
    // same encoding the artifact sink uses) — the detector stage consumes
    // decodable image media, per frame, exactly like the reference's
    // per-frame YOLO pass (temporal.py:37-55)
    sink(infer(frameMedia(framesU8)), s"$outDir/detections")

    Catalog.publish(spark,
      Catalog.dataciteDoc(files.select(col("path"), col("content"),
        lit("{}").as("metadata_json"))),
      catalogPath)
  }

  /** One image-media row per normalized frame: pixels assemble per
    * (experiment, frame) and encode as a real grayscale PNG. media_id
    * packs (experiment hash, frame) so detections trace back to frames.
    */
  def frameMedia(framesU8: DataFrame): Dataset[Media] = {
    val session = framesU8.sparkSession
    import session.implicits._
    framesU8.select(col("experiment_id"), col("frame"),
      col("x"), col("y"), col("v8").cast("int"))
      .as[(String, Int, Int, Int, Int)]
      .groupByKey(r => (r._1, r._2))
      .mapGroups { (key: (String, Int), it: Iterator[(String, Int, Int, Int, Int)]) =>
        val (eid, frame) = key
        val cells = it.map { case (_, _, x, y, v) => (x, y, v) }.toArray
        val h = cells.map(_._1).max + 1
        val w = cells.map(_._2).max + 1
        val px = new Array[Byte](w * h)
        cells.foreach { case (x, y, v) => px(x * w + y) = v.toByte }
        Media(((eid.hashCode.toLong & 0x7FFFFFFFL) << 16) | frame.toLong,
          "image", graft.sinks.Artifacts.grayPng(w, h, px),
          MediaMeta(w, h, 1, 0, 0, "png"))
      }
  }

  /** Default inference stage: decode the frame PNGs and run the bundled
    * fixed-weight conv model through [[graft.multimodal.Inference]] — the
    * session-per-partition, batched lifecycle; swap the factory for an
    * ONNX session binding in production.
    */
  def defaultInfer(media: Dataset[Media]): DataFrame = {
    val session = media.sparkSession
    import session.implicits._
    Inference.infer(Multimodal.decodeImages(media), () => new ConvPoolModel)
      .map(d => (d.media_id, d.model, d.scores.length, d.scores))
      .toDF("media_id", "model", "dim", "scores")
  }

  /** Start the streaming pipeline. `quarantineDir` enables the shared
    * poison-pill bisect ([[Quarantine]]): a corrupt upload costs one
    * batch retry instead of crash-looping the stream.
    */
  def start(spark: SparkSession, watchDir: String, outDir: String,
      catalogPath: String, checkpoint: String,
      parse: DataFrame => DataFrame, drain: Boolean = false,
      quarantineDir: Option[String] = None): StreamingQuery =
    Quarantine.watch(spark, watchDir, checkpoint, parse, drain,
      quarantineDir) { (fs, batchId) =>
      analyzeBatch(spark, parse(fs), fs, outDir, catalogPath, defaultInfer,
        batchId)
    }
}
