package perfbench

import graft.DedupConfig
import graft.kernels.{ExactSim, MinHashModel, Shingler, SimHashModel}

/** A sample of a workload's own inputs for the kernel timings: document
  * texts (text workloads) or embedding vectors (knn). */
final case class KernelSample(texts: Array[String], vectors: Array[Array[Float]])

/** Single-thread kernel timings, no Spark. Each kernel first runs over the
  * sample for [[WarmupNs]] so the JIT has compiled it, then makes [[Passes]]
  * timed passes of at least [[MinPassNs]] each; the median pass is reported.
  * A kernel the sample has no input for reports 0. */
object Kernels {
  private val Passes = 7
  private val WarmupNs = 300L * 1000 * 1000
  private val MinPassNs = 30L * 1000 * 1000

  private def perUnit(units: Long)(pass: () => Long): Double = {
    if (units == 0) return 0.0
    var sink = 0L
    val w0 = System.nanoTime()
    var n = 0
    while (System.nanoTime() - w0 < WarmupNs || n < 3) { sink += pass(); n += 1 }
    val reps = math.max(1, math.ceil(MinPassNs.toDouble * n / (System.nanoTime() - w0)).toInt)
    val times = (0 until Passes).map { _ =>
      val t0 = System.nanoTime()
      var r = 0
      while (r < reps) { sink += pass(); r += 1 }
      (System.nanoTime() - t0).toDouble / (units * reps)
    }
    if (sink == 42L) print("") // keeps the passes' results live
    Util.median(times)
  }

  /** Sums `f` over 0 until n. */
  private def loop(n: Int)(f: Int => Long): Long = {
    var s = 0L
    var i = 0
    while (i < n) { s += f(i); i += 1 }
    s
  }

  def measure(s: KernelSample, cfg: DedupConfig): Map[String, Double] = {
    val texts = s.texts
    val vecs = s.vectors
    def shingle(t: String) = Shingler.shingles(t, cfg.shingleK, cfg.shingleMode, cfg.seed)
    val tokens = texts.map(t => Shingler.normalize(t).split(' ').count(_.nonEmpty).toLong).sum
    val shingles = texts.map(shingle)
    val model = new MinHashModel(cfg.numTables, cfg.rowsPerBand, cfg.seed)
    val nShingles = shingles.map(_.length.toLong).sum
    val pairs = math.max(0, shingles.length - 1)
    val vecPairs = math.max(0, vecs.length - 1)
    Map(
      "kernels.shingle_ns_per_token" -> perUnit(tokens)(() => loop(texts.length)(i => shingle(texts(i)).length)),
      "kernels.minhash_ns_per_shingle" -> perUnit(nShingles)(() => loop(shingles.length)(i => model.bandHashes(shingles(i))(0))),
      "kernels.simhash_ns_per_shingle" -> perUnit(nShingles)(() =>
        loop(shingles.length)(i => SimHashModel.fingerprint(shingles(i), cfg.seed))),
      "kernels.jaccard_ns_per_pair" -> perUnit(pairs)(() =>
        loop(pairs)(i => java.lang.Double.doubleToRawLongBits(ExactSim.jaccard(shingles(i), shingles(i + 1))))),
      "kernels.cosine_ns_per_pair" -> perUnit(vecPairs)(() =>
        loop(vecPairs)(i => java.lang.Double.doubleToRawLongBits(ExactSim.cosine(vecs(i), vecs(i + 1))))))
  }
}
