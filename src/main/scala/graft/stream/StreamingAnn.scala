package graft.stream

import graft.functions.VectorFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming similarity search (SURVEY §2 G × the s2 LSH plan): a
  * continuous stream of query vectors served against a STATIC indexed
  * corpus — the online half of the build-once / search-many lifecycle the
  * batch ANN queries (s2/s3) model offline.
  *
  * Shape: the corpus is hyperplane-bucketed ONCE ([[indexCorpus]] — at
  * production scale a bucket-partitioned table, so a query's probe prunes
  * to its bucket's partition). Each micro-batch of queries computes its
  * own bucket keys, BROADCASTS the (small) batch against the corpus
  * bucket join, and window-ranks per query — `foreachBatch`, the
  * production pattern for per-batch relational plans inside a stream; the
  * corpus never re-shuffles per batch. Results append partitioned by
  * batch_id, so an at-least-once replay overwrites its own partition
  * (idempotent, same contract as the pipelines' sinks).
  */
object StreamingAnn {

  /** Bucket the corpus by `nBits` hyperplane signs — compute once, reuse
    * for every batch.
    */
  def indexCorpus(corpus: DataFrame, nBits: Int = 8, dim: Int = 64): DataFrame =
    corpus.select(col("vec_id"), col("embedding"),
      hyperplaneBucket(col("embedding"), nBits, dim).as("bucket"))

  /** One micro-batch: LSH bucket-restricted cosine top-`topK` of `queries`
    * (vec_id, embedding) against the indexed corpus.
    */
  def searchBatch(queries: DataFrame, indexed: DataFrame, topK: Int = 10,
      nBits: Int = 8, dim: Int = 64): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"),
      hyperplaneBucket(col("embedding"), nBits, dim).as("qbucket")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    indexed
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"), col("bucket"))
      .join(q, col("bucket") === col("qbucket") && col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosineFast(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Serve `queryStream` (vec_id, embedding) against the indexed corpus,
    * appending per-batch results under `outPath` partitioned by batch_id.
    */
  def start(queryStream: DataFrame, indexed: DataFrame, outPath: String,
      checkpoint: String, topK: Int = 10, nBits: Int = 8, dim: Int = 64,
      drain: Boolean = false): StreamingQuery = {
    val writer = queryStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.core.Layout.overwritePartitions(
            searchBatch(batch, indexed, topK, nBits, dim)
              .withColumn("batch_id", lit(batchId)),
            "batch_id", outPath)
        }
        ()
      }
    if (drain) writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    else writer.start()
  }
}
