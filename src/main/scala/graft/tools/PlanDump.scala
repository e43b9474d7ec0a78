package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump `explain("formatted")` plans.
  *
  * With no arguments it writes PLANS.md for the headline queries — the
  * physical-plan evidence behind the scale claims (pushdown reaching the
  * scan, broadcasts on dim legs, the bucketed join's missing Exchange,
  * the DPP partition filter, the orderStatistics plan with no full-table
  * shuffle). Run via `bash tools/plans.sh`.
  *
  * `PlanDump <tag> <suffix> <query>...` instead writes each NAMED query's
  * plan to `plans/<tag>/<query>_<suffix>.txt` — the before/after plan
  * evidence an optimization round commits next to its claims, e.g.
  * `sbt "runMain graft.tools.PlanDump r15 before q1_agg q59_gap_fill"`.
  *
  * The sf dir comes from SPARK_GRAFT_SF_DIR (default sf0.001 — plan SHAPE
  * is sf-independent; AQE runtime specialization is not captured either
  * way).
  */
object PlanDump {

  private val Headliners: Seq[(String, String)] = Seq(
    "q1_agg" -> ("TPC-H Q1 shape: predicate pushdown + column pruning " +
      "reach the parquet scan; single map-side-combined aggregate."),
    "q43_shipping_priority" -> ("Three-way star: filtered customer leg " +
      "broadcasts, orders⋈lineitem shuffles once on orderkey, top-10 is " +
      "TakeOrdered (no global sort)."),
    "b1_bucketed_join" -> ("Co-bucketed fact⋈fact: both scans show " +
      "`Bucketed: true` and the join has NO Exchange below it — the " +
      "write-time shuffle is reused by every subsequent join."),
    "b2_partition_pruning" -> ("Dynamic partition pruning: the fact " +
      "scan's PartitionFilters carry a `dynamicpruningexpression` fed " +
      "by the broadcast dim — month directories prune at runtime."),
    "b3_time_partition_pruning" -> ("STATIC partition-directory pruning " +
      "from an epoch predicate: DerivedPartitionPushdown translates the " +
      "ts range into event_day bounds on the registered day-partitioned " +
      "store — PartitionFilters lists 3 of ~30 day directories before " +
      "any footer is opened (the directory tier above q62's row-group " +
      "pruning and b2's runtime DPP)."),
    "m8_h264_video" -> ("H.264 ingest as a relational operator: per-row " +
      "avc1-MP4 encode + pure-JVM baseline-intra decode inside batched " +
      "mapPartitions — no exchange until the final per-doc collapse; " +
      "embarrassingly parallel over clips at any scale."),
    "q31_percentiles" -> ("Exact per-group percentiles via " +
      "orderStatistics: the lineitem scan feeds a partial-aggregate " +
      "counts pass and a target-cell-filtered pass — no full-table " +
      "Exchange, no per-group rank window."),
    "d2_minhash_lsh" -> ("MinHash-LSH dedup: banded signatures bucket-" +
      "join (hash-keyed exchange of ids+bands only), never an all-pairs " +
      "product; verify stage joins candidates alone."),
    "q16_asof_join" -> ("As-of join as tag-and-union + ONE keyed running " +
      "window — no join explosion, one shuffle on the key."),
    "q36_asof_exec" -> ("The custom AsOfJoinExec physical operator: " +
      "key-clustered, (key,time)-sorted two-pointer merge."),
    "q23_skew_join" -> ("Salted skew join: deterministic salt spreads " +
      "the hot key; AQE skew handling stays available."),
    "q57_mad_anomaly" -> ("Two sequential exact medians (orderStatistics) " +
      "+ broadcast band join; the events table is scanned, never " +
      "shuffled wholesale."),
    // every remaining query > 1 s in the round-4 bench — the expensive
    // tail is exactly where a silent plan regression costs the most
    "q48_grouping_sets" -> ("TWO-PHASE grouping sets: the scan aggregates " +
      "once at the finest grouping (1x input work), then Expand runs over " +
      "the group-sized intermediate only — vs the single-phase shape " +
      "whose Expand replicates every input row |sets| times map-side."),
    "t13_lm_familiarity" -> ("Bigram LM scoring: the model aggregates " +
      "bigram counts once (the keyed exchange carries (w1, w2, count) " +
      "token rows, never documents) and broadcasts; full text appears " +
      "only in loadSpread's round-robin scan spread, which adds no " +
      "exchange on an already-parallel scan (PlanSpec-pinned)."),
    "t29_keywords" -> ("TF-IDF keywords: document frequencies aggregate " +
      "once; per-doc top-3 is a doc-keyed rank window with " +
      "WindowGroupLimit pushdown — every map task pre-prunes to 3 rows " +
      "per doc BEFORE the keyed exchange, so shuffle bytes are bounded " +
      "by 3·|docs| regardless of vocabulary."),
    "t30_vocab_growth" -> ("Heaps-law curve: tokens aggregate to first-" +
      "seen blocks; the cumulative join runs over per-block SUMMARY rows " +
      "(≤ corpus/64·block), not tokens."),
    "q27_range_join" -> ("Range join via bucketed interval overlap: both " +
      "sides explode to coarse buckets and equi-join on (bucket), " +
      "turning the O(n·m) predicate into a hash join + residual filter."),
    "t31_decontam_curve" -> ("Three shingle widths off ONE corpus scan: " +
      "the multi-width kgram Generator emits (n,pos,h) for n in {4,8,16} " +
      "from a single tokenization, and the screen is straight-line " +
      "aggregation (no self-join) — one raw (n,h)-keyed exchange feeds " +
      "both the per-doc counts and the bench-collision window in place; " +
      "text never crosses an exchange."),
    "m7_keyframes" -> ("Scene keyframes as a single-lineage window plan: " +
      "every window and the final collapse share ONE doc_id hash " +
      "exchange ((doc_id, scene) windows re-sort, never re-exchange) and " +
      "the video decode runs exactly once — no joins anywhere."),
    "q61_sole_late_shipper" -> ("TPC-H Q21 with zero fact self-joins: " +
      "one orderkey-keyed lineitem⋈orders join, then BOTH stacked " +
      "aggregations ((orderkey,supp) and orderkey) reuse its " +
      "partitioning — the EXISTS/NOT-EXISTS pair is two counters."),
    "t32_bpe_encode" -> ("BPE corpus encoding: merges broadcast as a " +
      "closure, the encode pass is mapPartitions with NO exchange; the " +
      "only shuffles are the trainer's one distinct-word aggregate and " +
      "the final per-doc stats groupBy."),
    "c9_incremental_scan" -> ("Incremental CDC catch-up: manifest " +
      "pointer maps diff driver-side (pure metadata), the scan unions " +
      "ONLY the changed buckets' files — untouched buckets never appear " +
      "in the plan at all."),
    "q62_time_slice" -> ("Literal epoch-range slice over the NORMALIZED " +
      "ts projection: TsRangePushdown adds implied raw-column bounds, so " +
      "PushedFilters carries GreaterThanOrEqual/LessThanOrEqual on the " +
      "parquet timestamp — row groups outside the week never leave the " +
      "footer. The pruning shape a time-organized 100 TB store depends " +
      "on."))

  def main(args: Array[String]): Unit = {
    require(args.isEmpty || args.length >= 3,
      "usage: PlanDump [<tag> <suffix> <query>...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-plans")
    val qs = graft.SparkEntry.queries
    def plan(name: String): String = {
      val fn = qs.getOrElse(name, sys.error(s"unknown query $name"))
      fn(spark, sfDir).queryExecution.explainString(
        ExplainMode.fromString("formatted"))
    }
    val repoRoot = java.nio.file.Paths.get(sys.env.getOrElse("GRAFT_REPO_ROOT",
      sys.props.getOrElse("user.dir", ".")))
    if (args.isEmpty) {
      val out = new StringBuilder
      out.append("# PLANS — formatted physical plans for headline queries\n\n")
      out.append(s"Generated by `graft.tools.PlanDump` at `$sfDir`. These are\n")
      out.append("the plans the scale claims rest on; regenerate with\n")
      out.append("`bash tools/plans.sh` after plan-affecting changes.\n")
      Headliners.foreach { case (name, why) =>
        out.append(s"\n## $name\n\n$why\n\n```\n${plan(name)}```\n")
      }
      java.nio.file.Files.writeString(repoRoot.resolve("PLANS.md"), out.toString)
      println(s"wrote PLANS.md (${Headliners.size} queries)")
    } else {
      val (tag, suffix, names) = (args(0), args(1), args.drop(2).toSeq)
      val outDir = repoRoot.resolve("plans").resolve(tag)
      java.nio.file.Files.createDirectories(outDir)
      names.foreach { name =>
        val p = outDir.resolve(s"${name}_$suffix.txt")
        java.nio.file.Files.writeString(p, plan(name))
        println(s"wrote $p")
      }
    }
    spark.stop()
  }
}
