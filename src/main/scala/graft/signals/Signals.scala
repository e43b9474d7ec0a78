package graft.signals

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Per-signal array analytics (SURVEY §2 C11/C12/E4/E5, §7 step 4) — the
  * Spark re-expression of the reference's hyperspectral / spatiotemporal
  * tools (/root/reference/picoprobe/tools/hyperspectral.py:39-107,
  * tools/temporal.py:21-55).
  *
  * Layout: signals arrive as one row per signal (FIXTURES F1: flattened
  * row-major `data` + `shape`). A cube arrives WHOLE from the parse — one
  * detector acquisition is bounded (MB) and already sits in one row — so
  * the pipeline reduces it in place ([[spectrumArray]], [[intensityArray]]:
  * a typed flatMap over the row, no explode, no aggregate shuffle), the
  * reference's in-memory `hs_image.sum(axis=…)`. The long form —
  * `(x, y, channel, counts)` for cubes, `(frame, x, y, v)` for video — stays
  * for data that arrives exploded or must outgrow one row (SURVEY §4): axis
  * reductions become shuffle-partition-local groupBys on a table that can
  * be partitioned by `(experiment_id, channel-bucket | frame)`, and no
  * single array has to fit in one executor's memory. [[spectrum]] and
  * [[intensityMap]] over [[explodeCube]] are also the reference the
  * array forms are specified against (SignalsSpec).
  */
object Signals {

  /** First signal with ndim == n, else empty (SURVEY §2 B3 first-match,
    * hyperspectral.py:54-66 picks the first 3-D signal or raises).
    */
  def firstWithNdim(signals: DataFrame, n: Int): DataFrame =
    signals.filter(col("ndim") === n).orderBy("signal_idx").limit(1)

  /** First signal with ndim == n PER experiment — the per-file `hs.load`
    * semantics when a micro-batch carries several files at once (a global
    * limit(1) would silently drop every file but one). Window is keyed by
    * experiment_id, so the shuffle is as wide as the batch's file count.
    */
  def firstWithNdimPerExperiment(signals: DataFrame, n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("experiment_id").orderBy("signal_idx")
    signals.filter(col("ndim") === n)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Hyperspectral cube rows → long form. `shape` = [X, Y, S], `data` is
    * row-major, so flat index i ↦ (x = i/(Y·S), y = (i/S) mod Y,
    * channel = i mod S). posexplode keeps the index; decomposition uses
    * integral `div`/`%` (never double division, which can misassign a
    * coordinate by half an ulp at very large flat indices).
    */
  def explodeCube(signals: DataFrame): DataFrame = {
    val Y = element_at(col("shape"), 2).cast("long")
    val S = element_at(col("shape"), 3).cast("long")
    signals
      .select(col("experiment_id"), col("signal_idx"), col("shape"),
        posexplode(col("data")).as(Seq("i", "counts")))
      .select(col("experiment_id"), col("signal_idx"),
        call_function("div", col("i"), Y * S).cast("int").as("x"),
        (call_function("div", col("i"), S) % Y).cast("int").as("y"),
        (col("i") % S).cast("int").as("channel"),
        col("counts"))
  }

  /** Video rows → long form. `shape` = [T, X, Y] (temporal.py:21). */
  def explodeVideo(signals: DataFrame): DataFrame = {
    val X = element_at(col("shape"), 2).cast("long")
    val Y = element_at(col("shape"), 3).cast("long")
    signals
      .select(col("experiment_id"), col("signal_idx"), col("shape"),
        posexplode(col("data")).as(Seq("i", "v")))
      .select(col("experiment_id"), col("signal_idx"),
        call_function("div", col("i"), X * Y).cast("int").as("frame"),
        (call_function("div", col("i"), Y) % X).cast("int").as("x"),
        (col("i") % Y).cast("int").as("y"),
        col("v"))
  }

  /** Σ over the energy axis → (x, y) intensity map (SURVEY §2 C11,
    * `hs_image.sum(axis=2)`, hyperspectral.py:96). One map-side-combinable
    * aggregate; with the table partitioned by experiment the shuffle is
    * partition-local.
    */
  def intensityMap(cube: DataFrame): DataFrame =
    cube.groupBy("experiment_id", "signal_idx", "x", "y")
      .agg(sum(col("counts")).as("intensity"))

  /** Σ over both spatial axes → per-channel spectrum (SURVEY §2 C11,
    * `hs_image.sum(axis=(0,1))`, hyperspectral.py:104).
    */
  def spectrum(cube: DataFrame): DataFrame =
    cube.groupBy("experiment_id", "signal_idx", "channel")
      .agg(sum(col("counts")).as("counts"))

  /** Array-form [[spectrum]]: Σ over both spatial axes of each selected
    * cube row `(experiment_id, signal_idx, shape = [X, Y, S], data)`,
    * summed in place over the row-major `data` → `(experiment_id,
    * signal_idx, channel, counts)`, the long form's columns and types.
    * Expects one row per (experiment_id, signal_idx), as
    * [[firstWithNdimPerExperiment]] yields.
    */
  def spectrumArray(cubes: DataFrame): DataFrame = {
    val spark = cubes.sparkSession
    import spark.implicits._
    cubeRows(cubes).flatMap { case (eid, idx, shape, data) =>
      val (xy, s) = cubeGeometry(eid, idx, shape, data.length)
      val acc = new Array[Double](s)
      var cell = 0
      while (cell < xy) {
        val base = cell * s
        var c = 0
        while (c < s) { acc(c) += data(base + c); c += 1 }
        cell += 1
      }
      Iterator.tabulate(s)(c => (eid, idx, c, acc(c)))
    }.toDF("experiment_id", "signal_idx", "channel", "counts")
  }

  /** Array-form [[intensityMap]]: Σ over the energy axis of each selected
    * cube row, summed in place → `(experiment_id, signal_idx, x, y,
    * intensity)`, the long form's columns and types. Same input contract
    * as [[spectrumArray]].
    */
  def intensityArray(cubes: DataFrame): DataFrame = {
    val spark = cubes.sparkSession
    import spark.implicits._
    cubeRows(cubes).flatMap { case (eid, idx, shape, data) =>
      val (xy, s) = cubeGeometry(eid, idx, shape, data.length)
      val y = shape(1)
      Iterator.tabulate(xy) { cell =>
        val base = cell * s
        var v = 0.0
        var c = 0
        while (c < s) { v += data(base + c); c += 1 }
        (eid, idx, cell / y, cell % y, v)
      }
    }.toDF("experiment_id", "signal_idx", "x", "y", "intensity")
  }

  private def cubeRows(cubes: DataFrame)
      : Dataset[(String, Int, Array[Int], Array[Double])] = {
    val spark = cubes.sparkSession
    import spark.implicits._
    cubes.select(col("experiment_id"), col("signal_idx"), col("shape"),
        col("data").cast("array<double>"))
      .as[(String, Int, Array[Int], Array[Double])]
  }

  /** (X·Y, S) of a cube row, refusing by name a row that is not a 3-D
    * cube or whose `data` length is not the product of its `shape`. */
  private def cubeGeometry(eid: String, idx: Int, shape: Array[Int],
      n: Int): (Int, Int) = {
    require(shape.length == 3 && shape.map(_.toLong).product == n.toLong,
      s"cube row (experiment_id=$eid, signal_idx=$idx): $n values for " +
        s"shape [${shape.mkString(", ")}]")
    (shape(0) * shape(1), shape(2))
  }

  /** Calibrated energy axis in keV (SURVEY §2 E5, hyperspectral.py:69-74):
    * `(offset + increment · channel) / 1000`.
    */
  def energyKev(channel: Column, offset: Column, increment: Column): Column =
    (offset + increment * channel) / lit(1000.0)

  /** Attach the energy axis to a spectrum given per-signal calibration
    * columns `x_offset`, `x_increment`.
    */
  def withEnergyAxis(spectrumDf: DataFrame): DataFrame =
    spectrumDf.withColumn("energy_kev",
      energyKev(col("channel"), col("x_offset"), col("x_increment")))

  /** Per-frame min-max normalization to uint8 range (SURVEY §2 C12+E4,
    * temporal.py:30-34): `(v − min)/(max − min) · 255 + 0.499999999`,
    * truncated — numpy's `astype(uint8)` truncates toward zero, hence
    * `floor` on the non-negative operand, value range [0, 255]. Constant
    * frames (max == min) normalize to 0. Per-frame extrema are unbounded
    * window aggregates over the frame partition: ONE shuffle on
    * `(experiment, signal, frame)`, one pass over the data — no
    * aggregate-plus-self-join rescan.
    */
  def normalizeFrames(video: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("experiment_id", "signal_idx", "frame")
    video
      .withColumn("f_min", min(col("v")).over(w))
      .withColumn("f_max", max(col("v")).over(w))
      .withColumn("v8",
        when(col("f_max") > col("f_min"),
          floor((col("v") - col("f_min")) / (col("f_max") - col("f_min"))
            * lit(255.0) + lit(0.499999999)).cast("int"))
          .otherwise(lit(0)))
      .drop("f_min", "f_max")
  }

  /** Array-form variant of C12+E4 for one-row-per-frame layouts: normalize
    * an `ARRAY<DOUBLE>` frame in place with higher-order functions — no
    * shuffle at all, for when a single frame comfortably fits in a row.
    */
  def normalizeFrameArray(frame: Column): Column = {
    val mn = array_min(frame)
    val mx = array_max(frame)
    transform(frame, v =>
      when(mx > mn,
        floor((v - mn) / (mx - mn) * lit(255.0) + lit(0.499999999)).cast("int"))
        .otherwise(lit(0)))
  }

  /** Nested-metadata projection (SURVEY §2 D5/F map-json,
    * tools/gather_metadata.py:11-43): per signal, pull the commonly-used
    * fields out of the metadata JSON; keep the raw JSON column for
    * schema-on-read access to everything else.
    */
  def metadataSummary(signals: DataFrame): DataFrame =
    signals.select(col("experiment_id"), col("signal_idx"), col("title"),
      get_json_object(col("metadata_json"), "$.Signal.signal_type").as("signal_type"),
      get_json_object(col("metadata_json"), "$.Sample.elements").as("elements_json"),
      get_json_object(col("metadata_json"), "$.General.date").as("date"),
      get_json_object(col("metadata_json"), "$.General.title").as("gen_title"),
      col("metadata_json"))
}
