package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet table registry over a scale-factor directory
  * (see /root/repo/TESTDATA.md).
  *
  * All loads go through `spark.read.parquet` so Catalyst pushes filters and
  * prunes columns at the scan (verify via `.explain`: `PushedFilters`,
  * `ReadSchema`). At 100 TB the same call reads a partitioned parquet/Delta
  * layout; nothing here assumes single-file tables.
  */
object Tables {

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Small dimension tables — always broadcast-join candidates. */
  val dims: Set[String] = Set("region", "nation")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = readRaw(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** Parquet read that tolerates TIMESTAMP(NANOS) files. Spark rejects the
    * nanos annotation unless `spark.sql.legacy.parquet.nanosAsLong` is set;
    * rather than mutating the CALLER's session conf (a process-wide toggle
    * flipped from a loader), the retry reads through a cloned session
    * (`newSession` — own SQLConf, shared SparkContext) that carries the
    * flag. The resulting `HadoopFsRelation` captures that session, and both
    * schema conversion and the execution-time vectorized reader resolve the
    * flag through the RELATION's session — so the plan keeps decoding nanos
    * correctly after being re-bound to the caller's session, whose conf is
    * never written. The common (µs/long) path touches no conf at all.
    *
    * The rejection is recognized by its error class (`PARQUET_TYPE_ILLEGAL`,
    * walked through the cause chain — schema merging may surface it wrapped
    * in a task failure) with a message match on the parquet-mr type name
    * `NANOS` as a belt against error-class renames. A retry for some OTHER
    * illegal parquet type would fail identically (the flag is a no-op for
    * non-nanos types), so over-matching cannot mask a real error.
    */
  private def readRaw(spark: SparkSession, path: String): DataFrame =
    try spark.read.parquet(path)
    catch {
      case e: Exception if isNanosRejection(e) =>
        val isolated = spark.newSession()
        isolated.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        import org.apache.spark.sql.graft.PlanBridge
        PlanBridge.ofRows(spark, PlanBridge.analyzed(isolated.read.parquet(path)))
    }

  private def isNanosRejection(e: Throwable): Boolean = {
    val causes = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).toSeq
    causes.exists {
      case st: org.apache.spark.SparkThrowable =>
        st.getCondition == "PARQUET_TYPE_ILLEGAL"
      case _ => false
    } || causes.exists(c => c.getMessage != null && c.getMessage.contains("NANOS"))
  }

  /** Normalize `events.ts` to a ns-epoch LONG — the representation the
    * reference's transitions `state_time` uses (ns since epoch, SURVEY.md
    * §1.1) and the contract every downstream query assumes. Driven by the
    * LOADED schema, so any of the encodings a writer may emit converge:
    *
    *  - parquet TIMESTAMP(NANOS) → read as long via `nanosAsLong` → as-is;
    *  - TIMESTAMP(MICROS) isAdjustedToUTC=false → Spark `TIMESTAMP_NTZ` →
    *    a `Cast` to TIMESTAMP with the zone PINNED to UTC on the node
    *    (wall clock ≡ epoch instant), then `unix_micros`. The pinned zone
    *    matters twice: a plain cast would interpret the wall clock in the
    *    SESSION zone (matching the DuckDB oracle only under UTC), and even
    *    a session-zone-cancelling trick like `timestampdiff` against an
    *    epoch literal shifts by the DST delta for zones whose offset
    *    changed since 1970 (CST −6 in January 1970 vs CDT −5 for a July
    *    timestamp). TablesTsSpec pins both hazards under America/Chicago
    *    with a summer timestamp;
    *  - TIMESTAMP(MICROS/MILLIS) isAdjustedToUTC=true → Spark `TIMESTAMP`
    *    → `unix_micros` (internal value is already epoch-UTC micros,
    *    timezone-invariant by construction).
    */
  private def normalizeEventTs(df: DataFrame): DataFrame =
    if (!df.schema.fieldNames.contains("ts")) df // projected fixtures
    else df.schema("ts").dataType match {
      case LongType => df
      case TimestampNTZType =>
        import org.apache.spark.sql.catalyst.expressions.Cast
        import org.apache.spark.sql.graft.ColumnBridge
        val utcInstant = ColumnBridge.column(Cast(
          ColumnBridge.expression(col("ts")), TimestampType, Some("UTC")))
        df.withColumn("ts", unix_micros(utcInstant) * lit(1000L))
      case TimestampType =>
        df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported type $other (expected long / timestamp / timestamp_ntz)")
    }

  /** Register every table as a temp view for `spark.sql` surfaces. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Load + spread across all cores — but only when the scan is narrower
    * than the cluster. For CPU-heavy derivations (shingle hashing, minhash,
    * embeddings) over a table whose split count is below the core count,
    * every expensive expression upstream of the first shuffle runs on too
    * few cores, so a cheap round-robin shuffle of the raw rows pays for
    * itself. At production scale the scan already has more splits than
    * cores and the repartition would be a pure extra shuffle of every input
    * byte — so it is gated on the scan's actual partition count (asking the
    * physical plan for its partitioning runs no job).
    */
  private val spreadCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Compressed input bytes one spread task should own, floor 1 task, cap
    * `defaultParallelism` — the scale-dependent constant behind
    * [[loadSpread]]'s width. 64 KiB compressed ≈ a few
    * hundred KB of text ≈ tens of ms of the heaviest per-row derivation
    * (shingle/k-gram hashing) per task — big enough that task scheduling
    * stops dominating, small enough that the heavy text queries keep
    * full parallelism from sf1 up (they cap at the core count). Only
    * the kilobyte harness fixtures sit below the cap; a production-sized
    * table reaches it at any value of this constant (§6.1).
    */
  private[graft] val SpreadBytesPerTask: Long = 64L * 1024

  /** Spread-store temp dirs live for the JVM and are deleted on exit —
    * without this, every (dir, table) pair leaves a full parquet copy
    * in /tmp per JVM, accreting across bench + span runs. */
  private val spreadDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      spreadDirs.forEach { d =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(d).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        } catch { case scala.util.control.NonFatal(_) => }
      }
    }, "graft-spread-store-cleanup"))
  }

  /** Source-table fingerprint folded into the spread-cache key, so a
    * table rewritten in place within a long-lived JVM gets a fresh
    * spread copy instead of being served stale. Total bytes + newest
    * mtime alone are not enough on filesystems with 1 s mtime
    * granularity (an in-place rewrite preserving the byte total within
    * the same second would collide), so the file COUNT and a hash over
    * every (name, length) pair are folded in too — a rewrite that keeps
    * all of those identical byte-for-byte is indistinguishable from a
    * no-op at listing level. Cost per call: ONE recursive listing of the
    * table's file statuses (a handful of entries for any one table) —
    * paid on every cache lookup by design, because detecting a rewrite
    * on the NEXT access is the whole point; memoizing the fingerprint
    * would reintroduce the staleness it exists to prevent. */
  /** Per-corpus-dir JVM cache key: dir + table + source fingerprint — the
    * spread-cache contract, shared by every memoizing query family
    * (trained models, encode-once media stores, replay fixtures, dedup
    * pairs/clusters). An in-place rewrite of the source table within a
    * long-lived JVM misses the cache instead of serving stale artifacts;
    * superseded entries stay resident until JVM exit (deleting or
    * unpersisting them would invalidate handles previously returned to
    * still-running plans — the bounded pin is the cheaper failure mode
    * for a rare event).
    */
  private[graft] def corpusCacheKey(spark: SparkSession, dir: String,
      table: String): String =
    s"$dir/$table@${sourceFingerprint(spark, s"$dir/$table.parquet")}"

  private[graft] def sourceFingerprint(spark: SparkSession, path: String): String =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      // sparkContext.hadoopConfiguration, NOT sessionState.newHadoopConf():
      // the latter clones the full Configuration per call, and this runs
      // on every cache lookup inside the bench's timed region
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var bytes = 0L; var mtime = 0L; var count = 0L; var nameHash = 0L
      while (it.hasNext) {
        val s = it.next()
        bytes += s.getLen; mtime = math.max(mtime, s.getModificationTime)
        count += 1
        // order-independent fold (listing order is fs-dependent)
        nameHash ^= scala.util.hashing.MurmurHash3
          .stringHash(s"${s.getPath.getName}:${s.getLen}").toLong
      }
      s"$bytes:$mtime:$count:$nameHash"
    } catch { case scala.util.control.NonFatal(_) => "unknown" }

  /** Load with scan parallelism sized to the DATA, capped at the
    * session's core count.
    *
    * A production table at any real scale is already many files/row
    * groups and scans parallel for free; the harness fixtures are ONE
    * file with ONE row group, which Spark cannot split (a row group
    * belongs to a single split), so a naive read runs every downstream
    * map stage single-threaded. Rather than paying a repartition
    * EXCHANGE inside every consuming query (the pre-r8 shape: 63 call
    * sites each re-shuffling the same table), the spread copy is laid
    * out ONCE per (dir, table) per JVM and every query scans that
    * multi-file copy with no exchange. This is strictly MORE
    * production-shaped: plans now look like they would over a real
    * multi-file table. Already-parallel inputs pass through untouched.
    *
    * The spread WIDTH is derived from the table's observed byte size
    * (one task per [[SpreadBytesPerTask]] of input, capped at
    * `defaultParallelism`), not pinned to the core count (r16, guide
    * §2.6/§6.1): the r15 scaling block measured EVERY documents-family
    * query faster at 8 threads than 32 at sf0.1, and quiet-window
    * profiles reproduced it (t21 0.62 s @8 vs 1.63 s @32, d1 0.34 vs
    * 0.56, d4 1.83 vs 2.33) — per-task scheduling overhead on 32
    * near-empty scan tasks dwarfs the work. Deriving width from bytes is
    * the 100 TB-safe version of that observation: a real table hits the
    * core-count cap immediately (unchanged plans), only
    * kilobyte-fixtures stop fanning to 32 tasks. Result-invisible:
    * partition COUNT already varies with the session core count (the
    * driver benches the same queries at 8 and 32), so every consumer is
    * partitioning-robust by construction (exact/order-free accumulators).
    */
  def loadSpread(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = load(spark, dir, name)
    val fp = sourceFingerprint(spark, s"$dir/$name.parquet")
    // fingerprint leads with total bytes; "unknown" (listing failure)
    // degrades to the pre-r16 core-count width, never to a serial scan
    val bytes = fp.split(':').headOption.flatMap(_.toLongOption).getOrElse(-1L)
    val cores = spark.sparkContext.defaultParallelism
    val target =
      if (bytes < 0) cores
      else math.min(cores.toLong,
        math.max(1L, (bytes + SpreadBytesPerTask - 1) / SpreadBytesPerTask))
        .toInt
    if (df.rdd.getNumPartitions >= target) df
    else {
      val stem = s"$dir/$name"
      // target rides in the key: a different core count in the same JVM
      // must not serve a stale layout
      val key = s"$stem@$fp#$target"
      val base = spreadCache.computeIfAbsent(key, _ => {
        val tmpPath = java.nio.file.Files
          .createTempDirectory("graft-spread-store")
        spreadDirs.add(tmpPath)
        val tmp = tmpPath.toString
        df.repartition(target).write.mode("overwrite")
          .parquet(s"$tmp/$name.parquet")
        tmp
      })
      // a NEW fingerprint for the same (dir, table) supersedes any older
      // spread copy: drop only the CACHE entry, never the files — a
      // previously returned DataFrame is a lazy plan that resolves its
      // parquet paths at action time, so eager deletion would turn old
      // handles into FileNotFound mid-query. The dir stays in spreadDirs
      // and the JVM-exit hook reclaims it; accretion is bounded to one
      // copy per in-place source rewrite (rare — the fingerprint exists
      // for correctness, not a hot path).
      val prevKey = latestKey.put(stem, key)
      if (prevKey != null && prevKey != key) {
        spreadCache.remove(prevKey)
        ()
      }
      load(spark, base, name)
    }
  }

  /** Newest spread-cache key per (dir, table) — the lookup that lets a
    * fresh fingerprint evict its predecessor's on-disk copy. */
  private val latestKey =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
}
