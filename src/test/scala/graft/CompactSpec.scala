package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Small-files compaction: file count drops, content identical. */
class CompactSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("compact merges many small files, content preserved") {
    val path = Files.createTempDirectory("graft_compact").toString + "/t"
    (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartition(40).write.parquet(path)
    val before = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(before == 40)
    val expected = spark.read.parquet(path).collect().map(_.toSeq).toSet

    graft.io.Compact.compact(spark, path, targetBytes = 64L * 1024 * 1024)

    val after = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(after < before)
    assert(spark.read.parquet(path).collect().map(_.toSeq).toSet == expected)
  }

  test("compact swaps in past a stale _old dir from a crashed run") {
    val path = Files.createTempDirectory("graft_compact_debris").toString + "/t"
    (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartition(40).write.parquet(path)
    val expected = spark.read.parquet(path).collect().map(_.toSeq).toSet
    Files.createDirectories(java.nio.file.Paths.get(path + "_old"))
    Files.write(java.nio.file.Paths.get(path + "_old", "part"),
      "stale".getBytes("UTF-8"))

    assert(graft.io.Compact.compact(spark, path) == 1L)

    val after = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(after == 1)
    assert(spark.read.parquet(path).collect().map(_.toSeq).toSet == expected)
    assert(!Files.exists(java.nio.file.Paths.get(path + "_old")))
  }
}
