package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.expr.{ShingleKernel, SimHashKernel, UnicodeNormalizeKernel, VectorKernel}

/** Timings that do not depend on the workload: the box control and
  * single-thread calls to the product's per-row kernels. */
object Kernels {
  /** A fixed CPU-only Spark job (the same shape as `graft.Bench`'s
    * control): its cost never changes, so it shows drift of the box. */
  def control(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 50000000L, 1L, cores).selectExpr("sum(id % 7) AS s").collect(): Unit
    (System.nanoTime() - t0) / 1e9
  }

  @volatile private var sink = 0L

  /** Runs `f` over `n` items until `minS` seconds have passed, after one
    * untimed round; returns items per second. */
  private def rate(n: Int, minS: Double)(f: Int => Long): Double = {
    var acc = 0L
    var i = 0
    while (i < n) { acc += f(i); i += 1 }
    var done = 0L
    val t0 = System.nanoTime()
    var el = 0.0
    while (el < minS) {
      i = 0
      while (i < n) { acc += f(i); i += 1 }
      done += n
      el = (System.nanoTime() - t0) / 1e9
    }
    sink += acc
    done / el
  }

  def run(cores: Int): Seq[(String, (Double, String))] = {
    val texts = Corpus.kernelSample(2000).map(UTF8String.fromString)
    val mbPerDoc = texts.map(_.numBytes().toLong).sum / 1e6 / texts.length
    val rng = new java.util.SplittableRandom(7L)
    val vecs = Array.fill(2000)(UnsafeArrayData.fromPrimitiveArray(Vectors.gaussian(rng, 64)))
    val simhash = rate(texts.length, 0.3)(i => SimHashKernel.simhash64(texts(i)))
    val shingle = rate(texts.length, 0.3)(i =>
      ShingleKernel.hashShingles(texts(i), 3, true).numElements().toLong)
    val normalize = rate(texts.length, 0.3)(i =>
      UnicodeNormalizeKernel.normalize(texts(i), "NFC").numBytes().toLong)
    val dot = rate(vecs.length, 0.3)(i =>
      java.lang.Double.doubleToLongBits(VectorKernel.dotF(vecs(i), vecs((i * 7 + 1) % vecs.length))))
    Seq(
      "expr.simhash_mb_per_s" -> (simhash * mbPerDoc, "MB/s"),
      "expr.shingle_mb_per_s" -> (shingle * mbPerDoc, "MB/s"),
      "expr.normalize_mb_per_s" -> (normalize * mbPerDoc, "MB/s"),
      "expr.dot_mvec_per_s" -> (dot / 1e6, "Mvec/s"))
  }
}
