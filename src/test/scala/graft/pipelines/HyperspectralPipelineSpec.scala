package graft.pipelines

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import java.nio.file.Files

/** End-to-end pipeline replay (SURVEY §3.1): drop files in a watch dir,
  * drain the stream, assert reductions + catalog output — the Spark
  * equivalent of the reference's manual end-to-end validation
  * (docs/windows_setup.md walk-through).
  */
class HyperspectralPipelineSpec extends SparkSpec {

  // fixture parser: each "EMD" file becomes one 2x2x2 cube signal whose
  // data derives deterministically from the file bytes
  private def parse(files: DataFrame): DataFrame = {
    val session = spark
    import session.implicits._
    files.select(col("experiment_id"), col("path"), col("content"))
      .as[(String, String, Array[Byte])]
      .map { case (eid, path, bytes) =>
        val base = bytes.map(b => (b & 0xFF).toDouble).sum
        (eid, path, 0, "EDS", 3, Seq(2, 2, 2),
          (0 until 8).map(i => base + i), s"""{"Signal":{"signal_type":"EDS_TEM"}}""")
      }
      .toDF("experiment_id", "path", "signal_idx", "title", "ndim", "shape",
        "data", "metadata_json")
      .withColumn("data", col("data").cast("array<double>"))
  }

  test("watch -> analyze -> catalog, exactly once across restarts") {
    val watch = Files.createTempDirectory("graft-pipe-watch")
    val base = Files.createTempDirectory("graft-pipe")
    val out = base.resolve("out").toString
    val catalog = base.resolve("catalog").toString
    val ckpt = base.resolve("ckpt").toString

    Files.write(watch.resolve("runA.emd"), "file-a-bytes".getBytes)
    Files.write(watch.resolve("skip.txt"), "ignored".getBytes)

    def drain(): Unit =
      HyperspectralPipeline.start(spark, watch.toString, out, catalog, ckpt,
        parse, drain = true).awaitTermination()

    drain()
    val spec1 = spark.read.parquet(s"$out/spectrum")
    assert(spec1.select("experiment_id").distinct().count() == 1)
    assert(spec1.count() == 2) // 2 channels
    // spectrum sums spatial axes: each channel aggregates 4 cells
    assert(spark.read.parquet(s"$out/intensity").count() == 4)
    assert(spark.read.parquet(catalog).count() == 1)

    // second file + restart from the same checkpoint: runA not reprocessed
    Files.write(watch.resolve("runB.emd"), "file-b-bytes".getBytes)
    drain()
    val spec2 = spark.read.parquet(s"$out/spectrum")
    assert(spec2.select("experiment_id").distinct().count() == 2)
    assert(spec2.count() == 4) // exactly once: 2 runs x 2 channels, no dups
    assert(spark.read.parquet(catalog).count() == 2)
    val meta = spark.read.parquet(s"$out/metadata")
    assert(meta.filter(col("signal_type") === "EDS_TEM").count() == 2)
  }

  test("multi-file micro-batch analyzes EVERY file, not just one") {
    val watch = Files.createTempDirectory("graft-pipe-multi")
    val base = Files.createTempDirectory("graft-pipe-multi-out")

    // three files land in ONE AvailableNow batch (no maxFilesPerTrigger)
    Seq("r1", "r2", "r3").foreach(n =>
      Files.write(watch.resolve(s"$n.emd"), s"bytes-of-$n".getBytes))
    HyperspectralPipeline.start(spark, watch.toString,
      base.resolve("out").toString, base.resolve("catalog").toString,
      base.resolve("ckpt").toString, parse, drain = true).awaitTermination()

    val spec = spark.read.parquet(s"${base.resolve("out")}/spectrum")
    assert(spec.select("experiment_id").distinct().count() == 3)
    assert(spec.count() == 6) // 3 files x 2 channels each
    assert(spark.read.parquet(base.resolve("catalog").toString).count() == 3)
  }

  test("replayed batch id overwrites its partition — no duplicate side output") {
    val session = spark
    import session.implicits._
    val base = Files.createTempDirectory("graft-pipe-replay")
    val out = base.resolve("out").toString
    val catalog = base.resolve("catalog").toString
    val files = Seq(("runR", "/w/runR.emd", "replay-bytes".getBytes))
      .toDF("experiment_id", "path", "content")

    // same batch id twice = foreachBatch's at-least-once replay
    HyperspectralPipeline.analyzeBatch(spark, parse(files), files, out, catalog, 7L)
    HyperspectralPipeline.analyzeBatch(spark, parse(files), files, out, catalog, 7L)

    assert(spark.read.parquet(s"$out/spectrum").count() == 2) // once-worth
    assert(spark.read.parquet(s"$out/intensity").count() == 4)
    assert(spark.read.parquet(catalog).count() == 1)
  }

  // parser that refuses by name on POISON file content — the fixture
  // analog of the EMD reader's corruption guards
  private def parsePoison(files: DataFrame): DataFrame = parseCounted(None)(files)

  // parsePoison that also counts its per-file calls
  private def parseCounted(calls: Option[LongAccumulator])(
      files: DataFrame): DataFrame = {
    val session = spark
    import session.implicits._
    files.select(col("experiment_id"), col("path"), col("content"))
      .as[(String, String, Array[Byte])]
      .map { case (eid, path, bytes) =>
        calls.foreach(_.add(1))
        require(!new String(bytes, "US-ASCII").contains("POISON"),
          s"corrupt EMD container in $path")
        val base = bytes.map(b => (b & 0xFF).toDouble).sum
        (eid, path, 0, "EDS", 3, Seq(2, 2, 2),
          (0 until 8).map(i => base + i), s"""{"Signal":{"signal_type":"EDS_TEM"}}""")
      }
      .toDF("experiment_id", "path", "signal_idx", "title", "ndim", "shape",
        "data", "metadata_json")
      .withColumn("data", col("data").cast("array<double>"))
  }

  test("an analysis attempt parses each file once and releases its caches") {
    val session = spark
    import session.implicits._
    val base = Files.createTempDirectory("graft-pipe-once")
    val out = base.resolve("out").toString
    val catalog = base.resolve("catalog").toString
    def persisted = spark.sparkContext.getPersistentRDDs.size
    def batch(names: String*): DataFrame =
      names.map(n => (n, s"/w/$n.emd", s"$n-bytes".getBytes))
        .toDF("experiment_id", "path", "content")
    val before = persisted

    val calls = spark.sparkContext.longAccumulator("hs_parse_calls")
    val files = batch("r1", "r2", "r3")
    HyperspectralPipeline.analyzeBatch(spark, parseCounted(Some(calls))(files),
      files, out, catalog, 1L)
    assert(calls.value == 3L) // every consumer reads the one parse
    assert(spark.read.parquet(s"$out/spectrum").count() == 6)
    assert(spark.read.parquet(s"$out/intensity").count() == 12)
    assert(persisted == before)

    val poisoned = batch("ok", "POISON")
    intercept[Exception] {
      HyperspectralPipeline.analyzeBatch(spark, parsePoison(poisoned),
        poisoned, out, catalog, 2L)
    }
    assert(persisted == before)
  }

  test("default fail-fast: a poison file crash-loops across restarts (the case quarantine exists for)") {
    val watch = Files.createTempDirectory("graft-pipe-poison-loop")
    val base = Files.createTempDirectory("graft-pipe-poison-loop-out")
    Files.write(watch.resolve("good.emd"), "fine-bytes".getBytes)
    Files.write(watch.resolve("bad.emd"), "POISON".getBytes)

    def drain(): Unit =
      HyperspectralPipeline.start(spark, watch.toString,
        base.resolve("out").toString, base.resolve("catalog").toString,
        base.resolve("ckpt").toString, parsePoison, drain = true)
        .awaitTermination()

    // the failed batch never commits, so the restart replays the SAME file
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] { drain() }
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] { drain() }
  }

  test("quarantine: a poison file costs one batch retry, not the pipeline") {
    val watch = Files.createTempDirectory("graft-pipe-quarantine")
    val base = Files.createTempDirectory("graft-pipe-quarantine-out")
    val out = base.resolve("out").toString
    val catalog = base.resolve("catalog").toString
    val qDir = base.resolve("quarantine").toString
    Files.write(watch.resolve("good1.emd"), "fine-bytes-1".getBytes)
    Files.write(watch.resolve("good2.emd"), "fine-bytes-2".getBytes)
    Files.write(watch.resolve("bad.emd"), "POISON".getBytes)

    def drain(): Unit =
      HyperspectralPipeline.start(spark, watch.toString, out, catalog,
        base.resolve("ckpt").toString, parsePoison, drain = true,
        quarantineDir = Some(qDir)).awaitTermination()

    drain() // survives the poison file
    val spec = spark.read.parquet(s"$out/spectrum")
    assert(spec.select("experiment_id").distinct().count() == 2)
    assert(spark.read.parquet(catalog).count() == 2)
    val q = spark.read.parquet(qDir).collect()
    assert(q.length == 1)
    assert(q.head.getAs[String]("path").endsWith("bad.emd"))
    assert(q.head.getAs[String]("error").contains("corrupt EMD container"))

    // the poison batch COMMITTED: a later drain processes only new files
    // and never re-reads the quarantined one
    Files.write(watch.resolve("good3.emd"), "fine-bytes-3".getBytes)
    drain()
    assert(spark.read.parquet(s"$out/spectrum")
      .select("experiment_id").distinct().count() == 3)
    assert(spark.read.parquet(qDir).count() == 1)
  }

  test("quarantine: every file poisoned still commits, analyzing nothing") {
    val watch = Files.createTempDirectory("graft-pipe-allpoison")
    val base = Files.createTempDirectory("graft-pipe-allpoison-out")
    val qDir = base.resolve("quarantine").toString
    Files.write(watch.resolve("bad1.emd"), "POISON-1".getBytes)
    Files.write(watch.resolve("bad2.emd"), "POISON-2".getBytes)

    HyperspectralPipeline.start(spark, watch.toString,
      base.resolve("out").toString, base.resolve("catalog").toString,
      base.resolve("ckpt").toString, parsePoison, drain = true,
      quarantineDir = Some(qDir)).awaitTermination()

    assert(spark.read.parquet(qDir).count() == 2)
    // no COMMITTED analysis output (the failed first attempt may leave an
    // empty aborted-job directory behind) and no catalog rows — but the
    // batch committed
    def committedParts(d: java.io.File): Int =
      if (!d.exists()) 0
      else d.listFiles().map(f =>
        if (f.isDirectory) committedParts(f)
        else if (f.getName.startsWith("part-")) 1 else 0).sum
    assert(committedParts(new java.io.File(s"${base.resolve("out")}/spectrum")) == 0)
    assert(committedParts(new java.io.File(base.resolve("catalog").toString)) == 0)
  }

  test("quarantine: a failure no file explains rethrows (infrastructure, not data)") {
    val watch = Files.createTempDirectory("graft-pipe-infra")
    val base = Files.createTempDirectory("graft-pipe-infra-out")
    Files.write(watch.resolve("a.emd"), "fine-a".getBytes)
    Files.write(watch.resolve("b.emd"), "fine-b".getBytes)

    // fails on the multi-file batch but succeeds on every per-file probe —
    // the bisect must NOT quarantine anything, and must fail the stream
    def flaky(files: DataFrame): DataFrame = {
      if (files.count() > 1) throw new IllegalStateException("transient infra error")
      parse(files)
    }

    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      HyperspectralPipeline.start(spark, watch.toString,
        base.resolve("out").toString, base.resolve("catalog").toString,
        base.resolve("ckpt").toString, flaky, drain = true,
        quarantineDir = Some(base.resolve("quarantine").toString))
        .awaitTermination()
    }
    assert(!new java.io.File(s"${base.resolve("quarantine")}").exists())
  }
}
