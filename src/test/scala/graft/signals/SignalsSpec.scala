package graft.signals

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Signal-analytics tests (FIXTURES F1): explode geometry, axis-reduction
  * invariants (sum over any axis split == total sum), normalization bounds
  * and the reference's exact rounding constant, energy-axis affinity.
  */
class SignalsSpec extends SparkSpec {

  private lazy val session = spark
  import session.implicits._

  private val rnd = new scala.util.Random(42)
  private val (xs, ys, ch) = (4, 4, 8)
  private val cubeData = Array.fill(xs * ys * ch)(rnd.nextInt(1000).toDouble)

  private lazy val signalsDf = Seq(
    ("e1", "exp/e1.emd", 0, "HAADF", 2, Seq(16, 16), Seq.fill(256)(1.0),
      """{"Signal":{"signal_type":"HAADF"}}"""),
    ("e1", "exp/e1.emd", 1, "EDS", 3, Seq(xs, ys, ch), cubeData.toSeq,
      """{"Signal":{"signal_type":"EDS_TEM"},"Sample":{"elements":["Cu","Zn"]},"General":{"date":"2023-10-01"}}""")
  ).toDF("experiment_id", "path", "signal_idx", "title", "ndim", "shape",
    "data", "metadata_json")

  test("firstWithNdim picks the first 3-D signal") {
    val r = Signals.firstWithNdim(signalsDf, 3).collect()
    assert(r.length == 1 && r(0).getAs[String]("title") == "EDS")
  }

  test("explodeCube: row-major geometry and axis-reduction invariants") {
    val cube = Signals.explodeCube(Signals.firstWithNdim(signalsDf, 3)).cache()
    assert(cube.count() == xs * ys * ch)
    // geometry: value at (x,y,c) equals data[x*ys*ch + y*ch + c]
    val probe = cube.filter(col("x") === 2 && col("y") === 3 && col("channel") === 5)
      .collect()(0).getAs[Double]("counts")
    assert(probe == cubeData(2 * ys * ch + 3 * ch + 5))
    val total = cubeData.sum
    val mapSum = Signals.intensityMap(cube).agg(sum("intensity")).collect()(0).getDouble(0)
    val specSum = Signals.spectrum(cube).agg(sum("counts")).collect()(0).getDouble(0)
    assert(mapSum == total && specSum == total)
    assert(Signals.spectrum(cube).count() == ch)
    assert(Signals.intensityMap(cube).count() == xs * ys)
  }

  test("explodeVideo: row-major (T,X,Y) geometry") {
    val vid = Seq(("v1", "p", 0, "V", 3, Seq(2, 3, 4),
      (0 until 24).map(_.toDouble), "{}"))
      .toDF("experiment_id", "path", "signal_idx", "title", "ndim", "shape",
        "data", "metadata_json")
    val long = Signals.explodeVideo(vid)
    assert(long.count() == 24)
    // value at (frame, x, y) = frame*X*Y + x*Y + y
    val probe = long.filter(col("frame") === 1 && col("x") === 2 && col("y") === 3)
      .collect()(0).getAs[Double]("v")
    assert(probe == (1 * 3 * 4 + 2 * 4 + 3).toDouble)
    assert(long.agg(max("frame")).collect()(0).getInt(0) == 1)
  }

  test("energy axis is affine with the reference calibration") {
    val e = session.range(3).select(
      Signals.energyKev(col("id"), lit(-479.0021), lit(5.0)).as("kev"))
      .collect().map(_.getDouble(0))
    assert(e(0) == -479.0021 / 1000.0)
    assert(math.abs((e(2) - e(1)) - 0.005) < 1e-12)
  }

  test("normalizeFrames: bounds, extremes, constant-frame guard") {
    val video = Seq(
      ("e1", 1, 0, 0, 0, 10.0), ("e1", 1, 0, 0, 1, 20.0), ("e1", 1, 0, 1, 0, 15.0),
      ("e1", 1, 1, 0, 0, 7.0), ("e1", 1, 1, 0, 1, 7.0) // constant frame
    ).toDF("experiment_id", "signal_idx", "frame", "x", "y", "v")
    val out = Signals.normalizeFrames(video).orderBy("frame", "x", "y").collect()
    val v8 = out.map(_.getAs[Int]("v8"))
    assert(v8.forall(v => v >= 0 && v <= 255))
    assert(v8(0) == 0 && v8(1) == 255) // frame min → 0, max → 255
    // midpoint: 0.5·255 + 0.499999999 = 127.999… → truncates to 127 (the
    // reference's constant is just under one half, so exact halves round down)
    assert(v8(2) == 127)
    assert(v8(3) == 0 && v8(4) == 0)   // constant frame → 0
  }

  test("normalizeFrameArray matches long-form normalization") {
    val df = Seq(Seq(10.0, 20.0, 15.0)).toDF("frame")
      .select(Signals.normalizeFrameArray(col("frame")).as("n"))
    assert(df.collect()(0).getAs[scala.collection.Seq[Int]]("n").toSeq == Seq(0, 255, 127))
  }

  test("array-form spectrum and intensity equal the long-form reductions") {
    // two experiments with non-cubic shapes and integer counts (exact sums
    // in any order), plus a 2-D decoy the ndim-3 selection must skip
    def cube(x: Int, y: Int, s: Int) =
      Seq.fill(x * y * s)(rnd.nextInt(1000).toDouble)
    val sigs = Seq(
      ("a", "exp/a.emd", 0, "HAADF", 2, Seq(3, 5), Seq.fill(15)(1.0), "{}"),
      ("a", "exp/a.emd", 1, "EDS", 3, Seq(3, 5, 7), cube(3, 5, 7), "{}"),
      ("b", "exp/b.emd", 2, "EDS", 3, Seq(2, 4, 6), cube(2, 4, 6), "{}")
    ).toDF("experiment_id", "path", "signal_idx", "title", "ndim", "shape",
      "data", "metadata_json")
    val cubes = Signals.firstWithNdimPerExperiment(sigs, 3)
    def sameRows(got: DataFrame, want: DataFrame): Unit = {
      assert(got.schema.map(f => (f.name, f.dataType)) ==
        want.schema.map(f => (f.name, f.dataType)))
      def bag(df: DataFrame) =
        df.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
      assert(bag(got) == bag(want))
    }
    val spec = Signals.spectrumArray(cubes)
    sameRows(spec, Signals.spectrum(Signals.explodeCube(cubes)))
    sameRows(Signals.intensityArray(cubes),
      Signals.intensityMap(Signals.explodeCube(cubes)))
    assert(spec.count() == 7 + 6)
  }

  test("array-form reductions refuse a row whose data does not fill its shape") {
    val bad = Seq(("e9", 4, Seq(2, 2, 2), Seq.fill(7)(1.0)))
      .toDF("experiment_id", "signal_idx", "shape", "data")
    Seq(Signals.spectrumArray _, Signals.intensityArray _).foreach { f =>
      val e = intercept[Exception](f(bad).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => Option(c.getMessage).exists(_.contains(
          "cube row (experiment_id=e9, signal_idx=4): 7 values for shape [2, 2, 2]"))))
    }
  }

  test("metadataSummary extracts nested fields") {
    val m = Signals.metadataSummary(signalsDf).filter(col("signal_idx") === 1).collect()(0)
    assert(m.getAs[String]("signal_type") == "EDS_TEM")
    assert(m.getAs[String]("elements_json") == """["Cu","Zn"]""")
    assert(m.getAs[String]("date") == "2023-10-01")
  }

  test("g7: correlogram equals driver brute force, overlap shrinks with |lag|") {
    val out = SignalQueries.g7XCorr.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val vecs = graft.core.Tables.load(spark, sf, "embeddings")
      .select(col("label"), col("embedding")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)
        .map(x => math.floor(x.toDouble * 10000.0).toLong).toArray))
    val dim = vecs.head._2.length
    def series(lbl: Int): Array[Long] = {
      val s = new Array[Long](dim)
      vecs.filter(_._1 == lbl).foreach(v =>
        (0 until dim).foreach(i => s(i) += v._2(i)))
      s
    }
    val (a, b) = (series(0), series(1))
    val expect = (-8 to 8).map { lag =>
      val pairs = (0 until dim).flatMap { i =>
        val j = i + lag // ch index shift
        if (j >= 0 && j < dim) Some(a(i) * b(j)) else None
      }
      (lag.toLong, pairs.sum, pairs.length.toLong)
    }
    assert(out.toSeq == expect)
    assert(out.find(_._1 == 0L).get._3 == dim.toLong)
    assert(out.find(_._1 == 8L).get._3 == (dim - 8).toLong)
  }
}
