package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.streaming.Streams

/** Incremental ingest through the public stream functions: the IVF index
  * maintained batch by batch from a landing directory, and near-duplicate
  * admission that grows its index with every admitted document. Inputs
  * are an sf-shaped directory (`documents.parquet`, `embeddings.parquet`)
  * with planted near-duplicate groups spread over history, batches and
  * the inside of single batches. */
final class StreamIngest(spark: SparkSession, seed: Long, cores: Int) extends Workload {
  import StreamIngest._

  private val (nVecs, nMaxDocId, nDocBatches) = Size

  private var docRows: Seq[Row] = _
  private var vecRows: Seq[Row] = _
  private var verdictTruth: Map[Long, (Long, Boolean, Long, Option[Long])] = _
  private var dir: Path = _
  private var ivf: Array[Row] = _
  private var verdicts: Array[Row] = _
  private var recallNow = 0.0
  private var retrains = 0

  def rows: Long = nVecs.toLong + verdictTruth.size
  def warmPasses: Int = 2
  def sizes: Map[String, Long] = Map("vectors" -> nVecs.toLong, "vector_span" -> VecSpan,
    "vector_batches" -> (nVecs / VecSpan), "docs" -> nMaxDocId, "doc_batches" -> nDocBatches.toLong,
    "streamed_docs" -> verdictTruth.size.toLong,
    "planted_blocked" -> verdictTruth.values.count(!_._2).toLong)

  def generate(): Unit = {
    val rng = new SplittableRandom(seed)
    val planted = Planted.docs(rng, new Vocab(seed), nMaxDocId.toInt, GroupShare)
    docRows = planted.texts.indices.map { i =>
      val t = planted.texts(i)
      Row(i.toLong, t, "en", "web", t.length.toLong)
    }
    val vr = new SplittableRandom(seed * 31 + 11)
    vecRows = Vectors.blobs(vr, nVecs, Dim, 16).toSeq.zipWithIndex.map { case (v, i) =>
      Row(i.toLong, v.toSeq, i % 16) }
    // replay of batch-granular admission: history seeds the index, each
    // logical batch is judged against the index as it stood before it
    val span = nMaxDocId / nDocBatches
    val index = scala.collection.mutable.Map.empty[Int, List[Long]] // group -> indexed ids
    def add(id: Long): Unit = {
      val g = planted.groupOf(id.toInt)
      if (g >= 0) index(g) = id :: index.getOrElse(g, Nil)
    }
    (0L until nMaxDocId).filter(_ % 5 == 3).foreach(add)
    val truth = Map.newBuilder[Long, (Long, Boolean, Long, Option[Long])]
    (0 until nDocBatches).foreach { b =>
      val ids = (b * span until (b + 1) * span).filter(_ % 5 != 3)
      val judged = ids.map { id =>
        val g = planted.groupOf(id.toInt)
        val blockers = if (g < 0) Nil else index.getOrElse(g, Nil)
        id -> ((b.toLong, blockers.isEmpty, blockers.size.toLong, blockers.minOption))
      }
      truth ++= judged
      judged.filter(_._2._2).foreach { case (id, _) => add(id) }
    }
    verdictTruth = truth.result()
  }

  def materialize(into: Path): Unit = {
    dir = into
    spark.createDataFrame(java.util.Arrays.asList(docRows: _*), DocSchema)
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    spark.createDataFrame(java.util.Arrays.asList(vecRows: _*), VecSchema)
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("embeddings.parquet").toString)
    docRows = null
    vecRows = null
  }

  def reset(): Unit = ()

  def pass(tr: Tracer): Unit = {
    val sf = dir.toString
    ivf = tr.span("streaming.ivf_ingest") {
      Streams.streamIvfIngest(spark, sf, span = VecSpan, k = 16).collect()
    }
    verdicts = tr.span("streaming.minhash_incr") {
      Streams.streamMinhashIncr(spark, sf, shingleK = 3, thresholdPct = 50,
        maxId = nMaxDocId, nBatches = nDocBatches, compactEvery = 2).collect()
    }
  }

  def check(ops: Ops): Unit = {
    val nb = nVecs / VecSpan
    ops.check("ivf one row per batch", ivf.length == nb, s"${ivf.length} rows, want $nb")
    val n = ivf.map(_.getAs[Long]("n_vectors")).sum
    ops.check("ivf every vector ingested", n == nVecs, s"$n vectors")
    retrains += ivf.count(_.getAs[Boolean]("census_fired"))
    ops.check("ivf incremental == one-shot build",
      ivf.forall(_.getAs[Boolean]("matches_batch_build")), "matches_batch_build false")
    val got = verdicts.map { r =>
      r.getAs[Long]("doc_id") -> ((r.getAs[Long]("batch_id"), r.getAs[Boolean]("admitted"),
        r.getAs[Long]("n_blockers"), Option(r.getAs[java.lang.Long]("first_blocker")).map(_.longValue)))
    }
    ops.check("one verdict per streamed doc", got.length == verdictTruth.size &&
      got.map(_._1).distinct.length == got.length, s"${got.length} verdict rows")
    val wrong = got.filter { case (id, v) => !verdictTruth.get(id).contains(v) }
    ops.check("admission verdicts", wrong.isEmpty,
      s"${wrong.length} differ, e.g. ${wrong.take(3).map { case (id, v) => s"$id: $v vs ${verdictTruth.get(id)}" }.mkString("; ")}")
    val blocked = verdictTruth.filter(!_._2._2).keySet
    val caught = got.count { case (id, v) => blocked(id) && !v._2 }
    recallNow = caught.toDouble / math.max(blocked.size, 1)
  }

  override def recall: Option[Double] = Some(recallNow)

  override def counters: Map[String, Double] = Map("streaming.census_fired" -> retrains.toDouble)
}

object StreamIngest {
  /** Vectors, documents (ids below the streamed maximum) and document
    * batches. */
  val Size = (400, 200L, 2)
  val VecSpan = 200L
  val Dim = 32
  /** Share of documents in planted near-duplicate groups. */
  val GroupShare = 0.2

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))
}
