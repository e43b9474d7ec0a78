package graft.queries

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan shape assertions — the properties that matter at 100 TB,
  * checked on the actual optimized plans so a regression (lost pushdown, a
  * broadcast turning into a shuffle join, codegen fallback) fails CI rather
  * than silently degrading the cluster plan.
  */
class PlanSpec extends SparkSpec {

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("filter + projection push down to the parquet scan") {
    val df = Tables.load(spark, sf, "lineitem")
      .filter(col("l_suppkey") <= 10)
      .select("l_suppkey", "l_quantity")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters"))
    assert(plan.contains("LessThanOrEqual(l_suppkey,10)"))
    // column pruning: the scan reads exactly the two projected columns
    val readSchema = plan.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    assert(readSchema.contains("l_suppkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_orderkey"))
  }

  test("dimension joins broadcast (no fact-side shuffle)") {
    val plan = planOf(JoinQueries.q6RegionJoin.fn(spark, sf))
    assert(plan.contains("BroadcastHashJoin"))
    assert(plan.contains("BroadcastExchange"))
  }

  test("q60 qualifying-keys join is size-adaptive, never a forced broadcast") {
    val df = JoinQueries.q60LargeOrders.fn(spark, sf)
    val plan = planOf(df)
    // the fact aggregate's output grows linearly with scale, so the STATIC
    // plan must not commit to broadcasting it — no BroadcastExchange may
    // sit above the lineitem HashAggregate. AQE is free to convert the
    // keyed join to a broadcast at runtime from OBSERVED sizes; that
    // conversion is exactly the adaptivity this test protects.
    // sparkPlan is the static physical plan BEFORE the adaptive wrapper
    // (AdaptiveSparkPlanExec is a leaf node — collect would not see inside)
    val initial = df.queryExecution.sparkPlan
    val forced = initial.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
          if b.collectWithSubqueries {
            case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
                if a.aggregateExpressions.nonEmpty => a
          }.nonEmpty => b
    }
    assert(forced.isEmpty,
      s"static plan force-broadcasts an aggregate (unbounded side):\n$plan")
    // (scan-side broadcasts are fine: they are stats-driven, and scan
    // stats grow with data so the planner drops them at scale by itself;
    // at sf0.001 the tiny orders scan legitimately broadcasts)
    assert(plan.contains("HashAggregate"), "fact must pre-aggregate")
    assert(plan.contains("TakeOrderedAndProject"), "top-20 must not global-sort")
  }

  test("hot-path expressions stay inside whole-stage codegen") {
    val df = Tables.load(spark, sf, "documents")
      .select(graft.dedup.Dedup.simhash(col("text")).as("sig"),
        graft.text.TextFunctions.rollingHash(col("text")).as("fp"))
    val plan = planOf(df)
    // formatted mode marks codegen stages with a leading '*'
    assert(plan.linesIterator.exists(_.trim.startsWith("* Project")))
    // native expressions must not force an interpreted Project fallback
    assert(!plan.contains("CodegenFallback"))
  }

  test("pivot via conditional aggregation is a single exchange") {
    val plan = planOf(EventQueries.q8PivotCounts.fn(spark, sf))
    // tree lines only (the detail section repeats each node)
    val exchanges = plan.linesIterator.count(_.trim.matches("^\\+?- Exchange \\(.*"))
    // one shuffle for the groupBy + one range exchange for the global sort
    assert(exchanges <= 2, s"too many exchanges:\n$plan")
    assert(plan.contains("partial_")) // map-side combine present
  }

  test("as-of join plans as one keyed window, not a join") {
    val plan = planOf(EventQueries.q16AsofJoin.fn(spark, sf))
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
    assert(plan.contains("Window"))
    // the window is keyed by user — never the single-partition form
    assert(!plan.contains("No Partition Defined"))
    // formatted mode lists each exchange's partitioning in an Arguments line
    val hashExchanges = plan.linesIterator
      .count(l => l.contains("hashpartitioning("))
    assert(hashExchanges == 1, s"expected exactly one keyed shuffle:\n$plan")
  }

  test("duplicate-span dedup shuffles 8-byte hashes, never strings") {
    val plan = planOf(graft.dedup.DedupQueries.d6DupSpans.fn(spark, sf))
    // the only wide columns come from the positional explode; the text
    // column must be gone before the first hash exchange
    val exchangeIdx = plan.indexOf("hashpartitioning(")
    assert(exchangeIdx > 0)
    val treeAfter = plan.substring(exchangeIdx)
    assert(!treeAfter.contains("text#"), "text column crossed a shuffle")
  }

  test("sessionization is a single keyed shuffle end to end") {
    val plan = planOf(EventQueries.q21Sessions.fn(spark, sf))
    // window partitioning on user_id must satisfy BOTH downstream
    // aggregations ((user_id, sess_id) ⊇ user_id) — one hash exchange
    // total, plus only the final presentation sort's range exchange
    val keyed = plan.linesIterator
      .count(l => l.contains("Arguments: hashpartitioning("))
    assert(keyed == 1, s"sessionization re-shuffled:\n$plan")
    assert(!plan.contains("No Partition Defined"))
  }

  test("peak detection broadcasts the tiny aggregated series") {
    val plan = planOf(graft.signals.SignalQueries.g4PeakDetect.fn(spark, sf))
    assert(plan.contains("BroadcastHashJoin"))
    // the only keyed shuffle is the aggregation itself (possibly reused);
    // neighbor access must not re-shuffle the series
    // the only keyed shuffle is the channel aggregation; the shifted
    // branches repeat the IDENTICAL exchange subtree (deduped by
    // exchange reuse at runtime) — a re-shuffle on any other key fails
    val keyed = plan.linesIterator
      .filter(_.contains("Arguments: hashpartitioning("))
      .map(_.trim.replaceAll("#\\d+[L]?", "").replaceAll("plan_id=\\d+", ""))
      .toSet
    assert(keyed.size <= 1, s"neighbor joins reshuffled the series:\n$plan")
  }

  test("loadSpread parallelizes narrow scans with NO exchange; parallel ones pass through") {
    // narrow: the sf0.001 single-file table is below defaultParallelism.
    // The spread must deliver parallelism WITHOUT an exchange in the
    // query plan — it scans the one-time multi-file spread store (the
    // production-shaped layout) instead of repartitioning per query.
    // Width contract (r16): one task per SpreadBytesPerTask of input,
    // capped at defaultParallelism — a kilobyte fixture no longer fans
    // to core-count near-empty tasks.
    val narrow = Tables.loadSpread(spark, sf, "documents")
    assert(!planOf(narrow).contains("Exchange"),
      s"spread paid a per-query exchange:\n${planOf(narrow)}")
    // table bytes from the same Hadoop listing loadSpread sizes from
    // (Tables.sourceFingerprint) — it skips the .crc sidecars a
    // java.io.File walk would count
    def listedBytes(path: String): Long = {
      val p = new org.apache.hadoop.fs.Path(path)
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listFiles(p, true)
      var sum = 0L
      while (it.hasNext) sum += it.next().getLen
      sum
    }
    val bytes = listedBytes(s"$sf/documents.parquet")
    val wantParts = math.min(spark.sparkContext.defaultParallelism.toLong,
      math.max(1L,
        (bytes + Tables.SpreadBytesPerTask - 1) / Tables.SpreadBytesPerTask))
      .toInt
    assert(narrow.rdd.getNumPartitions >= wantParts,
      s"spread width below the bytes-derived target $wantParts")
    // and the spread store preserves the rows exactly
    assert(narrow.count() == Tables.load(spark, sf, "documents").count())

    // a table big enough that the bytes rule exceeds the core count must
    // still cap AT the core count (the 100 TB passthrough boundary)
    val bigTmp = java.nio.file.Files.createTempDirectory("graft-spread-big")
      .toString
    spark.range(0, 40000)
      .selectExpr("id", "repeat(uuid(), 4) as pad")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$bigTmp/documents.parquet")
    val bigBytes = listedBytes(s"$bigTmp/documents.parquet")
    assert(bigBytes >
      spark.sparkContext.defaultParallelism * Tables.SpreadBytesPerTask,
      s"fixture too small ($bigBytes B) to exercise the cap")
    val big = Tables.loadSpread(spark, bigTmp, "documents")
    assert(big.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism,
      "a data-sized table must still spread to the full core count")

    // wide: re-lay the same table as many files; the scan then has at least
    // defaultParallelism splits and the spread must add NO exchange — at
    // 100 TB the repartition would reshuffle every input byte for nothing
    val tmp = java.nio.file.Files.createTempDirectory("graft-spread").toString
    Tables.load(spark, sf, "documents").repartition(64)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val scanParts = Tables.load(spark, tmp, "documents").rdd.getNumPartitions
    assert(scanParts >= spark.sparkContext.defaultParallelism,
      s"fixture layout produced only $scanParts splits")
    val wide = Tables.loadSpread(spark, tmp, "documents")
    assert(!planOf(wide).contains("Exchange"),
      s"spread reshuffled an already-parallel scan:\n${planOf(wide)}")
  }

  test("LSH verify joins hash-join the fat side (no sort of vectors)") {
    // the registered d5 materializes eagerly (and releases its caches), so
    // the plan property is pinned on the lazy builder backing it
    val (pairs, release) = graft.sim.EmbeddingDedup.nearDupPairsPlan(
      Tables.load(spark, sf, "embeddings"), "vec_id", "embedding",
      dim = 64, threshold = 0.5, bands = 32, bits = 12)
    try {
      val plan = planOf(pairs)
      assert(plan.contains("ShuffledHashJoin") || plan.contains("BroadcastHashJoin"),
        s"verify join fell back to sort-merge:\n$plan")
    } finally release()
  }

  test("funnel stages share one hash partitioning (single keyed shuffle)") {
    val plan = planOf(EventQueries.q37Funnel.fn(spark, sf))
    val hashExchanges = plan.linesIterator.count(_.contains("hashpartitioning("))
    assert(hashExchanges == 1, s"expected one keyed shuffle:\n$plan")
    assert(!plan.contains("No Partition Defined"))
  }

  test("heavy hitters: CMS probe filters BEFORE the aggregate exchange") {
    val plan = planOf(EventQueries.q32HeavyHitters.fn(spark, sf))
    // tree order: the cms_estimate filter must sit below (after in text)
    // the first Exchange — i.e. on the scan side, pruning pre-shuffle
    val lines = plan.linesIterator.toSeq
    val exchangeIdx = lines.indexWhere(_.trim.matches("^\\+?- Exchange.*"))
    val filterIdx = lines.indexWhere(_.contains("Filter"))
    assert(exchangeIdx >= 0 && filterIdx >= 0)
    assert(plan.contains("cms_estimate"), plan)
    // exactly one aggregation shuffle + the final sort's range exchange
    val exchanges = lines.count(_.trim.matches("^\\+?- Exchange \\(.*"))
    assert(exchanges <= 2, s"too many exchanges:\n$plan")
  }

  test("incremental rollup merges partial states with map-side combine") {
    val plan = planOf(EventQueries.q34IncrementalRollup.fn(spark, sf))
    assert(plan.contains("partial_"), s"no map-side combine:\n$plan")
  }

  test("domain caps: bounded heap combines map-side (k ids/domain cross)") {
    val plan = planOf(graft.text.TextQueries.t25DomainCaps.fn(spark, sf))
    assert(plan.contains("partial_"), s"no map-side combine:\n$plan")
    // selection must ride the aggregate, never a whole-domain window sort
    assert(!plan.contains("Window"), s"window rank leaked into t25:\n$plan")
  }

  test("q49 sweep: the data-sized window partitions by hour, never global") {
    val plan = planOf(EventQueries.q49Concurrency.fn(spark, sf))
    // every Window node over the delta stream must carry a partition key;
    // the only permissible global sort is over the tiny per-hour offsets
    val windows = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty)
    // formatted plans print window specs with their partition exprs;
    // an empty partitionBy renders as "Window [sum(...)... ORDER BY ..."
    // with no hour# reference — require hour-keyed windowing to appear
    assert(plan.contains("hour"), s"no hour-partitioned window:\n$plan")
  }

  test("q50 attribution: carry rides a user-keyed window, no touch join") {
    val df = EventQueries.q50Attribution.fn(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("Window"))
    // no join of purchases against touches anywhere in the plan
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"attribution joined the event table against itself:\n$plan")
  }

  test("t28 head selection is a bounded TakeOrdered, not a global sort") {
    val plan = planOf(graft.text.TextQueries.t28DsirWeights.fn(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"t28 top-100 lost its bounded-heap plan:\n$plan")
  }

  test("q53 sliding distinct: two aggregates, zero window state") {
    val plan = planOf(EventQueries.q53SlidingDistinct.fn(spark, sf))
    assert(!plan.contains("Window"), s"q53 grew a window:\n$plan")
    assert(plan.contains("partial_"), s"no map-side combine:\n$plan")
  }
}
