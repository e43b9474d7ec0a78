package graft.perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.SplittableRandom

import graft.sources.Hdf5TestWriter

/** Seeded `.emd` containers for the ingest workloads, written with the
  * engine's own Velox-layout HDF5 writer (Hdf5TestWriter.emd).
  *
  *   java ... graft.perfbench.Inputs <spec>
  *
  * Each line of the spec file is one set of containers, its fields
  * separated by tabs (a directory may contain spaces):
  *
  *   <dir> <seed> <prefix> <count> <x> <y> <s> <poisonAt>
  *
  * and writes `<dir>/<prefix>_<i>.emd` for i < count, plus
  * `<dir>/expect.json`: per container name, the spectrum total, the
  * sha256 of the file's bytes, and whether it is poison. The container at
  * `poisonAt` (-1 for none) is truncated to half its length, a parse
  * failure the pipeline must quarantine. The same seed gives the same
  * bytes.
  */
object Inputs {

  def main(args: Array[String]): Unit = {
    val lines = Files.readAllLines(Paths.get(args(0)))
    lines.forEach { line =>
      line.split("\t") match {
        case Array(dir, seed, prefix, count, x, y, s, poisonAt) =>
          writeSet(dir, seed.toLong, prefix, count.toInt,
            (x.toInt, y.toInt, s.toInt), poisonAt.toInt)
        case Array("") =>
        case other => sys.error(s"bad spec line: ${other.mkString(" ")}")
      }
    }
  }

  /** Poisson-distributed counts (Knuth's method; fine for a small mean). */
  private def poisson(rng: SplittableRandom, mean: Double): Int = {
    val limit = math.exp(-mean)
    var k = 0
    var p = rng.nextDouble()
    while (p > limit) { k += 1; p *= rng.nextDouble() }
    k
  }

  /** One container: a HAADF image, an EDS cube of integer counts (so every
    * summation order gives the same float64 total), and the cube's
    * Metadata JSON. Returns (bytes, spectrum total). */
  def container(rng: SplittableRandom, name: String,
      dims: (Int, Int, Int)): (Array[Byte], Long) = {
    val (x, y, s) = dims
    val haadf = Array.fill(x * y)(rng.nextInt(4096).toDouble)
    val cube = Array.fill(x * y * s)(poisson(rng, 3.0))
    val meta = s"""{"General":{"title":"$name","date":"2026-01-01"},""" +
      """"Signal":{"signal_type":"EDS_TEM"},"Sample":{"elements":["Cu","Fe","O"]}}"""
    val bytes = Hdf5TestWriter.emd(Seq(
      Hdf5TestWriter.Sig("Image", "haadf", Seq(x.toLong, y.toLong, 1L),
        haadf.toSeq),
      Hdf5TestWriter.Sig("SpectrumImage", "eds", Seq(x.toLong, y.toLong, s.toLong),
        cube.map(_.toDouble).toSeq, Some(meta))))
    (bytes, cube.map(_.toLong).sum)
  }

  private def writeSet(dir: String, seed: Long, prefix: String, count: Int,
      dims: (Int, Int, Int), poisonAt: Int): Unit = {
    Files.createDirectories(Paths.get(dir))
    val rng = new SplittableRandom(seed)
    val expect = (0 until count).map { i =>
      val name = f"${prefix}_$i%04d"
      val (full, total) = container(rng, name, dims)
      val poison = i == poisonAt
      val bytes = if (poison) full.take(full.length / 2) else full
      Files.write(Paths.get(dir, s"$name.emd"), bytes)
      val sha = MessageDigest.getInstance("SHA-256").digest(bytes)
        .map(b => f"$b%02x").mkString
      s"""${Json.str(name)}:{"total":$total,"sha256":"$sha","poison":$poison}"""
    }
    Files.writeString(Paths.get(dir, "expect.json"), expect.mkString("{", ",\n", "}"))
  }
}
