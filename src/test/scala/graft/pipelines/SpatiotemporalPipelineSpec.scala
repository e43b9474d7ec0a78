package graft.pipelines

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end spatiotemporal (video) pipeline replay: normalized uint8
  * frames, inference output, catalog publish — the reference's second
  * production flow.
  */
class SpatiotemporalPipelineSpec extends SparkSpec {

  // fixture parser: one (T=2, X=2, Y=2) video per file, data from bytes
  private def parse(files: DataFrame): DataFrame = {
    val session = spark
    import session.implicits._
    files.select(col("experiment_id"), col("path"), col("content"))
      .as[(String, String, Array[Byte])]
      .map { case (eid, path, bytes) =>
        val base = bytes.map(b => (b & 0xFF).toDouble).sum
        (eid, path, 0, "Video", 3, Seq(2, 2, 2),
          (0 until 8).map(i => base + i * i), "{}")
      }
      .toDF("experiment_id", "path", "signal_idx", "title", "ndim", "shape",
        "data", "metadata_json")
      .withColumn("data", col("data").cast("array<double>"))
  }

  test("watch -> normalize frames -> infer -> catalog") {
    val watch = Files.createTempDirectory("graft-st-watch")
    val base = Files.createTempDirectory("graft-st")
    val out = base.resolve("out").toString
    val catalog = base.resolve("catalog").toString

    Files.write(watch.resolve("vid1.emd"), "video-bytes-1".getBytes)
    SpatiotemporalPipeline.start(spark, watch.toString, out, catalog,
      base.resolve("ckpt").toString, parse, drain = true).awaitTermination()

    val frames = spark.read.parquet(s"$out/frames_u8")
    assert(frames.count() == 8) // 2 frames x 2x2 pixels
    val v8s = frames.select("v8").collect().map(_.getInt(0))
    assert(v8s.forall(v => v >= 0 && v <= 255))
    assert(v8s.contains(0) && v8s.contains(255)) // per-frame extremes hit

    // real inference path: one detection per FRAME, from the conv model
    // over decoded PNG frame media
    val det = spark.read.parquet(s"$out/detections").collect()
    assert(det.length == 2) // T=2 frames
    assert(det.forall(_.getAs[String]("model") == "convpool-v1"))
    assert(det.forall(_.getAs[Int]("dim") == 5))
    // per-frame normalization drives extremes to 0/255, so each frame's
    // mean-brightness score lands strictly inside (0, 1)
    det.foreach { r =>
      val mean = r.getAs[Seq[Float]]("scores").last
      assert(mean > 0f && mean < 1f)
    }
    assert(spark.read.parquet(catalog).count() == 1)

    // sidecar video artifact: a playable MJPEG-AVI per experiment
    val avi = java.nio.file.Paths.get(out, "artifacts", "batch_id=0", "vid1.avi")
    assert(java.nio.file.Files.exists(avi), s"missing artifact $avi")
    val bytes = java.nio.file.Files.readAllBytes(avi)
    assert(new String(bytes.slice(0, 4), "US-ASCII") == "RIFF")
    assert(new String(bytes.slice(8, 12), "US-ASCII") == "AVI ")
  }

  test("replayed batch id overwrites its partition — no duplicate side output") {
    val session = spark
    import session.implicits._
    val base = Files.createTempDirectory("graft-st-replay")
    val out = base.resolve("out").toString
    val catalog = base.resolve("catalog").toString
    val files = Seq(("vidR", "/w/vidR.emd", "replay-video".getBytes))
      .toDF("experiment_id", "path", "content")

    // same batch id twice = foreachBatch's at-least-once replay
    SpatiotemporalPipeline.analyzeBatch(spark, parse(files), files, out,
      catalog, SpatiotemporalPipeline.defaultInfer, 7L)
    SpatiotemporalPipeline.analyzeBatch(spark, parse(files), files, out,
      catalog, SpatiotemporalPipeline.defaultInfer, 7L)

    assert(spark.read.parquet(s"$out/frames_u8").count() == 8) // once-worth
    assert(spark.read.parquet(s"$out/detections").count() == 2)
    val avis = {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(base.resolve("out").resolve("artifacts"))
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".avi"))
      finally s.close()
    }
    assert(avis == 1)
    assert(spark.read.parquet(catalog).count() == 1)
  }

  test("multi-file micro-batch normalizes every file's video") {
    val watch = Files.createTempDirectory("graft-st-multi")
    val base = Files.createTempDirectory("graft-st-multi-out")
    Seq("v1", "v2").foreach(n =>
      Files.write(watch.resolve(s"$n.emd"), s"video-$n".getBytes))

    SpatiotemporalPipeline.start(spark, watch.toString,
      base.resolve("out").toString, base.resolve("catalog").toString,
      base.resolve("ckpt").toString, parse, drain = true).awaitTermination()

    val frames = spark.read.parquet(s"${base.resolve("out")}/frames_u8")
    assert(frames.select("experiment_id").distinct().count() == 2)
    assert(frames.count() == 16) // 2 files x 2 frames x 2x2 pixels
  }

  test("quarantine: a poison video survives as a quarantine row, not a dead stream") {
    val watch = Files.createTempDirectory("graft-st-quarantine")
    val base = Files.createTempDirectory("graft-st-quarantine-out")
    val qDir = base.resolve("quarantine").toString
    Files.write(watch.resolve("good.emd"), "video-good".getBytes)
    Files.write(watch.resolve("bad.emd"), "POISON".getBytes)

    def parseP(files: DataFrame): DataFrame = {
      val session = spark
      import session.implicits._
      files.select(col("experiment_id"), col("path"), col("content"))
        .as[(String, String, Array[Byte])]
        .map { case (eid, path, bytes) =>
          require(!new String(bytes, "US-ASCII").contains("POISON"),
            s"corrupt video container in $path")
          val b = bytes.map(x => (x & 0xFF).toDouble).sum
          (eid, path, 0, "Video", 3, Seq(2, 2, 2),
            (0 until 8).map(i => b + i * i), "{}")
        }
        .toDF("experiment_id", "path", "signal_idx", "title", "ndim", "shape",
          "data", "metadata_json")
        .withColumn("data", col("data").cast("array<double>"))
    }

    SpatiotemporalPipeline.start(spark, watch.toString,
      base.resolve("out").toString, base.resolve("catalog").toString,
      base.resolve("ckpt").toString, parseP, drain = true,
      quarantineDir = Some(qDir)).awaitTermination()

    val frames = spark.read.parquet(s"${base.resolve("out")}/frames_u8")
    assert(frames.select("experiment_id").distinct().count() == 1)
    val q = spark.read.parquet(qDir).collect()
    assert(q.length == 1 && q.head.getAs[String]("path").endsWith("bad.emd"))
    assert(q.head.getAs[String]("error").contains("corrupt video container"))
  }
}
