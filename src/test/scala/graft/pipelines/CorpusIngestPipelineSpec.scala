package graft.pipelines

import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** Corpus ingest end to end over real landed files: scrub, gate, dedup
  * (within-batch and cross-wave via the ledger), and exactly-once replay
  * of a delivered batch.
  */
class CorpusIngestPipelineSpec extends SparkSpec {

  import spark.implicits._

  private val good =
    "the data pipeline reads a stream of rows and the filter keeps " +
      "most of them while a join and a sort order the output in the " +
      "usual way for the batch to land in the table of record here"

  private def land(dir: String, name: String, text: String): Unit = {
    Files.write(Paths.get(dir, name), text.getBytes("UTF-8"))
    ()
  }

  test("scrub + gate + ledger dedup across two waves, exactly once") {
    val base = Files.createTempDirectory("graft-corpus").toString
    val watch = s"$base/landing"; Files.createDirectories(Paths.get(watch))
    val corpus = s"$base/corpus"; val ledger = s"$base/ledger"
    val ckpt = s"$base/ckpt"

    // wave 1: a good doc, a duplicate of it, junk, and a PII doc
    land(watch, "a.txt", good)
    land(watch, "b.txt", good) // exact duplicate — within-batch loser
    land(watch, "junk.txt", "!!!,,,;;;...") // punctuation-only → gated out
    land(watch, "pii.txt", good + " contact me at alice@example.com thanks")
    val q1 = CorpusIngestPipeline.start(spark, watch, corpus, ledger, ckpt,
      minQuality = 0.2, drain = true)
    q1.awaitTermination(); ()

    val after1 = spark.read.parquet(corpus)
      .select("path", "text").as[(String, String)].collect()
    assert(after1.length == 2, after1.map(_._1).toSeq.toString)
    // first-wins: the duplicate resolved to the lexicographically first path
    assert(after1.exists(_._1.endsWith("a.txt")))
    assert(!after1.exists(_._1.endsWith("b.txt")))
    // PII scrubbed before landing
    val pii = after1.find(_._1.endsWith("pii.txt")).get._2
    assert(pii.contains("<EMAIL>") && !pii.contains("alice@example.com"))

    // wave 2: a re-crawl of wave-1 content (ledger must reject) + new doc
    land(watch, "recrawl.txt", good)
    land(watch, "new.txt", good + " and a second genuinely new document")
    val q2 = CorpusIngestPipeline.start(spark, watch, corpus, ledger, ckpt,
      minQuality = 0.2, drain = true)
    q2.awaitTermination(); ()

    val after2 = spark.read.parquet(corpus)
      .select("path").as[String].collect().toSet
    assert(after2.size == 3, after2.toString)
    assert(!after2.exists(_.endsWith("recrawl.txt")), "ledger failed to reject")
    assert(after2.exists(_.endsWith("new.txt")))

    // replayed batch: re-running processBatch with the same batch id and
    // inputs replaces its own partitions — table state unchanged
    val before = spark.read.parquet(corpus).orderBy("content_key")
      .collect().map(_.toSeq)
    val wave2files = spark.read.format("binaryFile").load(watch)
      .filter($"path".endsWith("new.txt") || $"path".endsWith("recrawl.txt"))
      .selectExpr("path", "content")
    CorpusIngestPipeline.processBatch(spark, wave2files, corpus, ledger,
      batchId = 0L, minQuality = 0.2)
    val after = spark.read.parquet(corpus).orderBy("content_key")
      .collect().map(_.toSeq)
    assert(after.toSeq == before.toSeq, "replay changed table state")
  }

  test("replayed batch id overwrites its partitions — one copy in corpus and ledger") {
    val base = Files.createTempDirectory("graft-corpus-replay")
    val corpus = s"$base/corpus"; val ledger = s"$base/ledger"
    val docs = Seq(("doc://a", good), ("doc://b", good + " and a second one"))
      .toDF("path", "contentStr")
      .select($"path", $"contentStr".cast("binary").as("content"))
    def replay(): Unit = CorpusIngestPipeline.processBatch(spark, docs,
      corpus, ledger, batchId = 7L, minQuality = 0.2)

    replay()
    replay() // full replay: the ledger already screens every doc
    // replay after a crash between the corpus and ledger writes: the
    // ledger lacks the batch, every doc passes the screen again, and the
    // corpus partition must be REPLACED, not appended to
    val lost = Paths.get(ledger, "batch_id=7")
    assert(org.apache.hadoop.fs.FileUtil.fullyDelete(lost.toFile))
    replay()

    assert(spark.read.parquet(corpus).count() == 2)
    assert(spark.read.parquet(ledger).count() == 2)
  }

  // Pins the ledger probe resolving through the path's own filesystem: a
  // URI-form ledger (file:/...) is invisible to java.io.File, so the old
  // probe re-admitted every cross-batch duplicate — on hdfs://s3:// paths
  // (a real cluster) that was every path.
  test("processBatch honors a URI-form ledger path") {
    val base = java.nio.file.Files.createTempDirectory("graft-ingest-uri")
    val corpus = s"$base/corpus"
    val ledger = "file:" + base.resolve("ledger")
    val docs = Seq(("doc://a", "solid quality content with enough words to pass the gate"))
      .toDF("path", "contentStr")
      .select($"path", $"contentStr".cast("binary").as("content"))
    CorpusIngestPipeline.processBatch(spark, docs, corpus, ledger,
      batchId = 0L, minQuality = 0.0)
    // same content re-crawled in a later batch: only the ledger knows
    CorpusIngestPipeline.processBatch(spark,
      docs.withColumn("path",
        org.apache.spark.sql.functions.lit("doc://a-recrawl")), corpus, ledger,
      batchId = 1L, minQuality = 0.0)
    assert(spark.read.parquet(corpus).count() == 1, "URI ledger was ignored")
  }
}
