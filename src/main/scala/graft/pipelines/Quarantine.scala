package graft.pipelines

import graft.core.Layout
import graft.stream.FileWatcher
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Poison-pill quarantine for file-batch pipelines (shared by
  * [[HyperspectralPipeline]] and [[SpatiotemporalPipeline]]).
  *
  * Without it, a file whose parse fails kills the micro-batch, the batch
  * never commits, and a restart re-reads the SAME file — an infinite
  * crash loop (the exactly-once gate only advances past a file when its
  * batch succeeds). The reference's per-file task model degrades
  * differently: one funcX task dies, the service survives
  * (/root/reference/examples/hyperspectral_flow/main.py's per-file tool
  * dispatch). This helper re-expresses that for the batched stream.
  *
  * Cost model: ZERO on the happy path — the probe only runs after a
  * batch has already failed, and the bisect is logarithmic: failing
  * GROUPS split in half and only failing halves recurse, so attribution
  * costs O(bad · log N) probe jobs, not O(N). The case that makes this
  * matter is exactly the restart story: a pipeline restarted after
  * downtime sweeps the whole backlog into ONE batch, and a 5,000-file
  * backlog with one poison file must not pay 5,000 sequential driver
  * jobs before committing. A MOSTLY-poison batch (a systemic event, not
  * the sparse case the tree is shaped for) would instead pay ~3N on the
  * full tree — [[attribute]]'s density guard detects it from a spread
  * leaf sample and falls back to a ~N linear scan.
  */
object Quarantine {

  /** Root-cause message of a (possibly wrapped) failure: task failures
    * arrive as SparkException → cause chains, and the quarantine record
    * must carry the decoder's refuse-by-name text, not the scheduler's
    * wrapper. A null-message root reports its class name; a chain cut by
    * serialization (the executor-side cause dropped, leaving only the
    * wrapper) degrades to the wrapper's own message — never null, never
    * a throw. Self-referential causes terminate.
    */
  private[pipelines] def rootMsg(e: Throwable): String = {
    var c: Throwable = e
    while (c.getCause != null && (c.getCause ne c)) c = c.getCause
    Option(c.getMessage).getOrElse(c.getClass.getName)
  }

  /** Group-bisect attribution: probe `group` as one job; a healthy group
    * is cleared wholesale, a failing group splits in half and recurses.
    * At a failing LEAF the probe re-runs once — a data-borne failure is
    * deterministic and fails again (quarantine, with the retry's root
    * message as the record), while a transient infrastructure failure
    * (executor loss, disk hiccup) passes on retry and the file survives
    * un-quarantined instead of being permanently skipped past by the
    * exactly-once gate.
    *
    * Two edges this direction of misclassification keeps SAFE: (1) a
    * failure the probes cannot reproduce per-file — interaction-dependent,
    * i.e. groups fail but every leaf passes — attributes NOTHING and the
    * caller rethrows the original failure as infrastructure (the stream
    * replays; quarantining a file the evidence doesn't name would be data
    * loss); (2) a FLAKY data-borne failure (fails, passes on the leaf
    * retry, fails again in the survivors re-analyze) also rethrows — the
    * batch can loop across replays until the flake lands twice in a row
    * at a leaf, but every iteration is loss-free, and the alternative
    * (quarantine on one observation) silently drops healthy files.
    */
  private[pipelines] def bisect(group: Vector[String],
      probe: Vector[String] => Option[String]): Vector[(String, String)] =
    probe(group) match {
      case None => Vector.empty
      case Some(_) => bisectFailing(group, probe)
    }

  /** [[bisect]] for a group already OBSERVED failing (skips the re-probe
    * of evidence the caller holds). */
  private def bisectFailing(group: Vector[String],
      probe: Vector[String] => Option[String]): Vector[(String, String)] =
    if (group.size == 1)
      probe(group) match { // the leaf retry (transient guard)
        case Some(err) => Vector((group.head, err))
        case None => Vector.empty // transient: passed on retry
      }
    else {
      val (l, r) = group.splitAt(group.size / 2)
      bisect(l, probe) ++ bisect(r, probe)
    }

  /** Density-guard knobs: batches below [[DensityMinBatch]] skip the
    * estimate (the tree is tiny either way); [[DensitySampleK]] spread
    * leaf probes estimate poison density when BOTH first-level halves
    * fail. */
  private[pipelines] val DensityMinBatch = 8
  private[pipelines] val DensitySampleK = 8

  /** Top-level attribution. Bisect is optimal for the case the quarantine
    * exists for — sparse poison in a big restart backlog, O(bad · log N)
    * — but degrades PAST linear when most of the batch is poison: every
    * group fails, so the full binary tree runs 2N−1 group probes plus N
    * leaf retries (~3N jobs) where a linear scan pays ~2N (one probe per
    * file + a retry per bad leaf). So when the first split shows BOTH
    * halves failing — the only entry to the pathological regime — a
    * [[DensitySampleK]]-leaf spread sample estimates the density, and a
    * majority-bad batch falls back to the linear scan (same leaf-retry
    * semantics, so the transient guard and exact attribution hold on both
    * paths). A sparse batch never pays the sample: its first split has a
    * healthy half.
    */
  private[pipelines] def attribute(paths: Vector[String],
      probe: Vector[String] => Option[String]): Vector[(String, String)] =
    if (paths.size < DensityMinBatch) bisect(paths, probe)
    else {
      val (l, r) = paths.splitAt(paths.size / 2)
      val lErr = probe(l)
      val rErr = probe(r)
      val dense = lErr.isDefined && rErr.isDefined && {
        val stride = math.max(1, paths.size / DensitySampleK)
        val sample = paths.indices.by(stride).take(DensitySampleK).map(paths)
        2 * sample.count(p => probe(Vector(p)).isDefined) > sample.size
      }
      if (dense)
        paths.flatMap { p =>
          probe(Vector(p)) match {
            case None => None
            case Some(_) => // leaf retry, same misclassification-safe direction
              probe(Vector(p)).map(err => (p, err))
          }
        }
      else
        (if (lErr.isDefined) bisectFailing(l, probe) else Vector.empty) ++
          (if (rErr.isDefined) bisectFailing(r, probe) else Vector.empty)
    }

  /** Run `analyze(files)`; on failure bisect with `parse` as the probe,
    * write data-borne failures to `qDir` as (path, error, batch_id) rows
    * (idempotent batch_id partition overwrite — the same at-least-once
    * replay shape as the analysis sinks), and re-run `analyze` on the
    * survivors. A failure NO probe explains is an infrastructure error:
    * rethrown, keeping fail-fast where retrying is the correct response.
    */
  def run(spark: SparkSession, files: DataFrame,
      parse: DataFrame => DataFrame, qDir: String, batchId: Long)(
      analyze: DataFrame => Unit): Unit =
    try analyze(files)
    catch { case first: Exception =>
      // the probe forces FULL evaluation of the parsed frame (noop sink —
      // a count() would let column pruning skip the failing expression)
      def probe(group: Vector[String]): Option[String] = {
        val subset = files.filter(col("path").isin(group: _*))
        try { parse(subset).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Exception => Some(rootMsg(e)) }
      }
      val paths = files.select("path").collect().map(_.getString(0)).toVector
      val bad = attribute(paths, probe)
      if (bad.isEmpty) throw first
      import spark.implicits._
      Layout.overwritePartitions(
        bad.toDF("path", "error").withColumn("batch_id", lit(batchId)),
        "batch_id", qDir)
      val badSet = bad.map(_._1).toSet
      val good = files.filter(!col("path").isin(badSet.toSeq: _*))
      if (!good.isEmpty) analyze(good)
    }

  /** The watch → analyze loop both instrument pipelines start: stream the
    * `.emd` landings of `watchDir`, skip empty micro-batches, cache each
    * batch's (path, content, experiment_id) rows for the analysis and any
    * bisect probes, and run `analyze(files, batchId)` — through [[run]]
    * when `quarantineDir` is set, directly (fail-fast) otherwise.
    */
  private[pipelines] def watch(spark: SparkSession, watchDir: String,
      checkpoint: String, parse: DataFrame => DataFrame, drain: Boolean,
      quarantineDir: Option[String])(
      analyze: (DataFrame, Long) => Unit): StreamingQuery = {
    val events = FileWatcher.fileEvents(spark, watchDir)
    FileWatcher.start(events, checkpoint, drain) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val files = batch.select("path", "content", "experiment_id").cache()
        try {
          quarantineDir match {
            case None => analyze(files, batchId)
            case Some(qDir) =>
              run(spark, files, parse, qDir, batchId)(analyze(_, batchId))
          }
        } finally files.unpersist()
      }
    }
  }
}
