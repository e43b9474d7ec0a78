package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Materialization of a multi-consumer intermediate, with the durability
  * trade made EXPLICIT and config-selected (r15 verdict "what's wrong" #1 /
  * r16 task 5).
  *
  * Several hot query paths pin an intermediate the rest of the plan
  * consumes 2–6 times (d4's shingled corpus, t29's (doc, w, tf) table,
  * t30's per-block manifest, g6's frequency table, d9's hashed key table):
  * without the pin, Catalyst/AQE re-derives the whole upstream per
  * consumer — measured 2–14 extra corpus scans in r15. The pin itself has
  * three implementations with different fault-tolerance/performance
  * trades, selected by the session conf `spark.graft.materialize`:
  *
  *  - `localCheckpoint` (default): truncates lineage, stores blocks
  *    UNREPLICATED on executors. Fastest — right for single-node / bench /
  *    any run where recomputing a failed query is cheaper than paying
  *    replication on every query. The trade: one lost executor (or
  *    dynamic deallocation) fails the query instead of recomputing, and
  *    the pinned table occupies executor memory/disk for the plan's
  *    lifetime — at 100 TB, corpus-sized pins make that loss window real.
  *  - `replicated`: `persist(MEMORY_AND_DISK_2)` — blocks survive one
  *    executor loss AND lineage is kept, so even a double loss recomputes
  *    instead of failing. Costs a second copy's memory/disk + replication
  *    traffic. The persist is registered with the session's CacheManager,
  *    which holds the blocks until someone calls `unpersist` on it — the
  *    GC does NOT reclaim them when the returned frame goes unreferenced.
  *  - `checkpoint`: reliable checkpoint into
  *    `SparkContext.setCheckpointDir`. Survives any executor loss; costs
  *    a full write + read-back of the table. On a cluster the dir must be
  *    set to durable storage first — an unset dir fails the pin loudly
  *    ([[fallbackCheckpointDir]]); only a `local[...]` master gets a
  *    JVM-temp dir auto-set so the mode is testable locally.
  *
  * All three are result-invisible — same rows, same values; only the
  * storage/lineage strategy differs (spec-pinned by MaterializeSpec).
  */
object Materialize {

  private[graft] val ConfKey = "spark.graft.materialize"

  /** Pin `df` for multi-consumer reuse under the session-selected
    * strategy. `eager` forces materialization before returning (the
    * barrier callers rely on when the pin must happen once, not per
    * consumer); `eager = false` defers to the first action.
    */
  def pin(df: DataFrame, eager: Boolean = true): DataFrame = {
    val s = df.sparkSession
    s.conf.get(ConfKey, "localCheckpoint") match {
      case "replicated" =>
        val p = df.persist(StorageLevel.MEMORY_AND_DISK_2)
        if (eager) { p.count(); () }
        p
      case "checkpoint" =>
        val sc = s.sparkContext
        if (sc.getCheckpointDir.isEmpty)
          sc.setCheckpointDir(fallbackCheckpointDir(sc.master))
        df.checkpoint(eager = eager)
      case _ => df.localCheckpoint(eager = eager)
    }
  }

  /** Checkpoint dir for `checkpoint` mode when none is set: a JVM-temp
    * dir on a `local[...]` master, where executors share the driver's
    * disk; a throw anywhere else — a temp dir there is neither durable nor
    * visible to every executor, so using one would silently void the
    * durability the mode was chosen for.
    */
  private[core] def fallbackCheckpointDir(master: String): String = {
    if (master != "local" && !master.startsWith("local["))
      throw new IllegalStateException(
        s"$ConfKey=checkpoint on master '$master' needs a durable " +
          "checkpoint dir: call SparkContext.setCheckpointDir first")
    java.nio.file.Files.createTempDirectory("graft-materialize-ckpt").toString
  }
}
