package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Graph, Pins, TextAnalysis}
import graft.streaming.Streams

/** `Pins`: one freeze policy, frees that touch only a freeze, scopes
  * that free on every exit, and loops that keep only what their result
  * reads. */
class PinsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** Ids of the checkpointed RDDs still pinned in the block store. */
  private def frozen: Set[Int] = spark.sparkContext.getPersistentRDDs
    .collect { case (id, rdd) if rdd.isCheckpointed => id }.toSet

  /** The checkpointed leaves a plan reads. */
  private def frozenLeaves(df: DataFrame) =
    df.queryExecution.analyzed.collectLeaves().collect {
      case lr: LogicalRDD if lr.rdd.isCheckpointed => lr.rdd
    }

  test("a throw inside scoped still frees what was frozen before it") {
    val before = frozen
    val e = intercept[IllegalStateException] {
      Pins.scoped {
        Pins.freeze(spark.range(100).toDF("id"))
        assert((frozen -- before).size == 1)
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert((frozen -- before).isEmpty, "the scope left its freeze pinned")
  }

  test("free on a frame derived from a pin leaves the pin alive") {
    val before = frozen
    val pin = Pins.freeze(spark.range(100).toDF("id"))
    val added = frozen -- before
    assert(added.size == 1)
    Pins.free(pin.filter(col("id") >= 50))
    assert(added.subsetOf(frozen), "freeing a derived frame freed its input")
    assert(pin.count() == 100)
    Pins.free(pin)
    assert((frozen & added).isEmpty, "free left the freeze pinned")
  }

  test("pagerank and kCorePeel leave only the pins their result reads") {
    val ns = (0L to 9L).toDF("v")
    val es = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 3L), (6L, 7L), (0L, 6L)).toDF("s", "d")
    val runs = Seq[(String, () => DataFrame)](
      "pagerank" -> (() => Graph.pagerank(es, "s", "d", ns, "v", iters = 5)),
      "kCorePeel" -> (() => Graph.kCorePeel(es, "s", "d", ns, "v", k = 2, rounds = 3)))
    for ((name, run) <- runs) Pins.scoped {
      val before = frozen
      val out = run()
      val read = frozenLeaves(out).map(_.id).toSet
      assert(read.nonEmpty, s"$name result reads no freeze")
      assert(frozen -- before == read,
        s"$name left ${(frozen -- before -- read).size} superseded pins")
      assert(out.count() == 10)
    }
  }

  test("reliable mode reaches the former raw freeze sites with the same rows") {
    val fixture = Files.createTempDirectory("graft_pins").toString
    Seq(
      3L -> "hist corpus sentinel text lives here",
      0L -> "alpha beta gamma delta epsilon zeta",
      100L -> "alpha beta gamma delta epsilon zeta",
      10L -> "twin pair same batch survives intact",
      110L -> "twin pair same batch survives intact",
      230L -> "completely unrelated singleton content"
    ).toDF("doc_id", "text").coalesce(1).write.parquet(s"$fixture/documents.parquet")
    val universe = Seq(1L, 2L, 3L, 4L, 10L, 11L, 99L).map(Tuple1(_)).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val words = Seq.fill(50)("xy") ++ Seq.fill(30)("xyz") ++ Seq.fill(20)("aaaa")
    val docs = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    def survivors() = Dedup.survivorsAfterNearDedup(universe, "doc_id", pairs)
    def bpe() = TextAnalysis.trainBpeMerges(docs, "text", 3)
    // pinTrigger freezes an observed frame: the observation must still
    // arrive through a reliable checkpoint's job
    def minhash() = Streams.streamMinhashIncr(spark, fixture, thresholdPct = 50,
      maxId = 400L, nBatches = 4, compactEvery = 2)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val local = (survivors().collect().toSet, bpe(), minhash())
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(Files.createTempDirectory("graft_ckpt").toString)
    def files(): Long = {
      val s = Files.walk(Paths.get(new org.apache.hadoop.fs.Path(sc.getCheckpointDir.get).toUri.getPath))
      try s.filter(Files.isRegularFile(_)).count() finally s.close()
    }
    spark.conf.set(Pins.ReliableCheckpointKey, "true")
    try {
      val kept = survivors()
      val leaves = frozenLeaves(kept)
      assert(leaves.nonEmpty && leaves.forall(_.getCheckpointFile.isDefined),
        "survivorsAfterNearDedup froze locally")
      assert(kept.collect().toSet == local._1)
      val f0 = files()
      assert(bpe() == local._2)
      val f1 = files()
      assert(f1 > f0, "trainBpeMerges wrote no checkpoint files")
      assert(minhash() == local._3)
      assert(files() > f1, "streamMinhashIncr wrote no checkpoint files")
    } finally spark.conf.set(Pins.ReliableCheckpointKey, "false")
  }
}
