package graft.core

import graft.SparkSpec

/** The materialization-strategy pin (r16): every strategy must be
  * result-invisible — same rows out of the pinned frame — and the conf
  * must degrade to the localCheckpoint default when unset/unknown.
  */
class MaterializeSpec extends SparkSpec {

  private def build() = {
    import org.apache.spark.sql.functions._
    spark.range(1000)
      .select(col("id"), (col("id") % 7).as("k"), (col("id") * 3).as("v"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
  }

  test("all strategies produce identical rows, eager and lazy") {
    val want = build().collect().map(_.toString).sorted.toSeq
    assert(want.nonEmpty)
    Seq("localCheckpoint", "replicated", "checkpoint", "no-such-strategy")
      .foreach { strat =>
        spark.conf.set(Materialize.ConfKey, strat)
        try {
          val eagerGot = Materialize.pin(build())
            .collect().map(_.toString).sorted.toSeq
          assert(eagerGot == want, s"strategy=$strat eager")
          val lazyGot = Materialize.pin(build(), eager = false)
            .collect().map(_.toString).sorted.toSeq
          assert(lazyGot == want, s"strategy=$strat lazy")
        } finally spark.conf.unset(Materialize.ConfKey)
      }
  }

  test("default (conf unset) pins eagerly and reads back identically") {
    assert(spark.conf.getOption(Materialize.ConfKey).isEmpty)
    val pinned = Materialize.pin(build())
    // localCheckpoint truncates lineage: the pinned plan must not re-read
    // the source (an RDD scan, not a range+aggregate re-derivation)
    assert(pinned.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.getClass.getSimpleName.contains("LogicalRDD")),
      "default strategy should be lineage-truncating localCheckpoint")
    assert(pinned.collect().map(_.toString).sorted.toSeq ==
      build().collect().map(_.toString).sorted.toSeq)
  }

  test("checkpoint mode without a checkpoint dir fails loudly off local[...]") {
    Seq("spark://host:7077", "yarn", "k8s://https://host:443",
      "local-cluster[2,1,1024]").foreach { master =>
      val e = intercept[IllegalStateException](
        Materialize.fallbackCheckpointDir(master))
      assert(e.getMessage.contains("SparkContext.setCheckpointDir"), master)
    }
    Seq("local", "local[4]", "local[*]", "local[2,3]").foreach { master =>
      val dir = java.nio.file.Paths.get(Materialize.fallbackCheckpointDir(master))
      assert(java.nio.file.Files.isDirectory(dir), master)
      java.nio.file.Files.delete(dir)
    }
  }
}
