package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.util.hashing.MurmurHash3

/** Operation accounting behind `attempted`, `failed` and `error_rate`:
  * layer calls, served pages, JDBC partitions and correctness checks. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]

  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; failures += s"$name: $detail" }
    ok
  }

  def add(what: String, n: Long, bad: Long): Unit = {
    attempted += n
    failed += bad
    if (bad > 0) failures += s"$what: $bad of $n failed"
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Linear-interpolated percentile, p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** The highest percentile of the ladder with at least ten samples
    * beyond it, and its value; the median when there are fewer than 20. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val ladder = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
    val p = ladder.find(p => xs.size * (1.0 - p / 100.0) >= 10.0).getOrElse(50.0)
    (p, percentile(xs, p))
  }
}

object Fs {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        val s = Files.list(p)
        try s.iterator().forEachRemaining(c => deleteRecursively(c)) finally s.close()
      }
      Files.delete(p)
    }

  def copyDir(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    val s = Files.list(from)
    try s.iterator().forEachRemaining { c =>
      val t = to.resolve(c.getFileName.toString)
      if (Files.isDirectory(c)) copyDir(c, t)
      else Files.copy(c, t, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }
}

/** Timestamp value the generator predicts, as UTC epoch microseconds. */
final case class Micros(value: Long)

/** Order-independent table checksum shared by the generator's truth and
  * the readers of both upsert targets, so "same rows" means the same
  * typed values whichever side produced them. */
object Checksum {
  def canon(v: Any): String = v match {
    case null => "∅"
    case s: String => "s" + s
    case b: java.lang.Boolean => if (b) "T" else "F"
    case n: java.lang.Integer => "n" + n.longValue
    case n: java.lang.Long => "n" + n.longValue
    case Micros(m) => "t" + m
    case t: java.sql.Timestamp =>
      "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass.getName}")
  }

  def ofValues(vs: Iterable[Any]): Long = {
    val s = vs.iterator.map(canon).mkString("\u0001")
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  def ofRow(r: org.apache.spark.sql.Row): Long = ofValues(r.toSeq)

  /** (row count, wrapping sum of row hashes) of a frame, computed in
    * the executors with the benchmark's own hash. */
  def ofFrame(df: org.apache.spark.sql.DataFrame): (Long, Long) =
    df.rdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += ofRow(r) }
      Iterator((n, h))
    }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
}
