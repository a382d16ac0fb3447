package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams

/** Generated classes are compiled once per JVM, not once per call
  * (`GraftSession.sessionConf`: one executor class loader for every
  * session, and a codegen cache that holds it). The counter is Spark's
  * JVM-wide compile histogram; the specs run serially, so nothing else
  * compiles while a case reads it. */
class CodegenReuseSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** Janino compiles while `body` runs, and its result. */
  private def compiles[T](body: => T): (Long, T) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before, out)
  }

  /** An sf-shaped directory: 400 vectors of dimension 8 around four
    * centres, and a few documents with near-duplicates across batches. */
  private lazy val fixture: String = {
    val dir = Files.createTempDirectory("graft_codegen").toString
    val rnd = new scala.util.Random(7)
    (0L until 400L).map { i =>
      val c = (i % 4).toInt
      (i, Array.tabulate(8)(d => (if (d % 4 == c) 1f else 0f) + rnd.nextFloat() * 0.1f), c)
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    Seq(
      3L -> "hist corpus sentinel text lives here",
      0L -> "alpha beta gamma delta epsilon zeta",
      100L -> "alpha beta gamma delta epsilon zeta",
      5L -> "hist corpus sentinel text lives here",
      10L -> "twin pair same batch survives intact",
      110L -> "twin pair same batch survives intact",
      230L -> "completely unrelated singleton content"
    ).toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def minhash(): Seq[Seq[Any]] = Streams.streamMinhashIncr(spark, fixture,
    thresholdPct = 50, maxId = 400L, nBatches = 4, compactEvery = 2)
    .orderBy("doc_id").collect().map(_.toSeq).toSeq

  private def ivf(): Seq[Seq[Any]] = Streams.streamIvfIngest(spark, fixture,
    span = 200L, k = 16).orderBy("batch_id").collect().map(_.toSeq).toSeq

  test("a second streamMinhashIncr and a second streamIvfIngest call " +
      "over the same fixture compile nothing") {
    val mh1 = minhash()
    val iv1 = ivf()
    val (mhAdded, mh2) = compiles(minhash())
    val (ivAdded, iv2) = compiles(ivf())
    assert(mh1.length == 6 && iv1.length == 2)
    assert(mh2 == mh1 && iv2 == iv1, "a second call changed the rows")
    assert(mhAdded == 0 && ivAdded == 0,
      s"second calls compiled classes again: streamMinhashIncr $mhAdded, " +
        s"streamIvfIngest $ivAdded")
  }

  test("a batch query rerun on a new session compiles nothing") {
    def query(s: org.apache.spark.sql.SparkSession): Array[org.apache.spark.sql.Row] =
      s.range(0, 5000, 1, 4)
        .select((col("id") % 13).as("k"), (col("id") * 7 + 3).as("v"))
        .groupBy("k").agg(sum("v").as("s"), max("v").as("m"))
        .orderBy("k").collect()
    val first = query(spark)
    val (added, again) = compiles(query(spark.newSession()))
    assert(again.sameElements(first))
    assert(added == 0, s"the new session compiled $added classes again")
  }

  test("the session carries the fixed codegen settings") {
    for (s <- Seq(spark, spark.newSession())) {
      assert(s.conf.get("spark.sql.artifact.isolation.enabled") == "false")
      assert(s.conf.get("spark.sql.codegen.cache.maxEntries") == "2000")
    }
  }
}
